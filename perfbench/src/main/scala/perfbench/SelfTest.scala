package perfbench

/** Unit checks of the harness itself, run by `run.py --selftest`. Exits
  * non-zero on the first failure. */
object SelfTest {
  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) {
      System.err.println(s"selftest FAILED: $what: got $got, want $want")
      sys.exit(1)
    }

  def run(): Unit = {
    expect("quote", Json.str("a\"b"), "\"a\\\"b\"")
    expect("backslash", Json.str("a\\b"), "\"a\\\\b\"")
    expect("newline", Json.str("a\nb"), "\"a\\nb\"")
    expect("control", Json.str("\u0001"), "\"\\u0001\"")
    expect("map key", Json.value(Map("k\"" -> 1.5)), "{\"k\\\"\":1.5}")
    expect("non-finite", Json.num(Double.NaN), "null")
    expect("whole number", Json.num(3.0), "3")
    expect("union of overlapping intervals", Probe.union(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))), 4.0)
    expect("p99 of 100", Main.percentile((1 to 100).map(_.toDouble), 0.99), 99.0)
    expect("p50 of 1", Main.percentile(Seq(7.0), 0.5), 7.0)
    println("selftest ok")
  }
}
