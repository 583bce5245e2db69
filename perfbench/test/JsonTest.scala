package perfbench

/** Unit test of the benchmark's JSON writer (no test framework on the
  * classpath: a failed check exits non-zero).
  */
object JsonTest {
  private var failures = 0

  private def check(what: String)(ok: => Boolean): Unit =
    if (!(try ok catch { case _: Throwable => false })) { failures += 1; System.err.println(s"FAIL: $what") }

  private def refuses(v: Any): Boolean =
    try { Json.write(v); false }
    catch { case e: IllegalArgumentException => e.getMessage.contains("non-finite") }

  def main(args: Array[String]): Unit = {
    check("quotes and backslashes in keys are escaped") {
      Json.write(Seq("a\"b\\c" -> 1)) == "{\"a\\\"b\\\\c\":1}"
    }
    check("control characters are escaped") {
      Json.write(Seq("k\n\t\u0001" -> "v\r")) == "{\"k\\n\\t\\u0001\":\"v\\r\"}"
    }
    check("NaN is refused") { refuses(Seq("x" -> Double.NaN)) }
    check("Infinity is refused, nested too") { refuses(Seq("m" -> Seq("y" -> Seq(Double.PositiveInfinity)))) }
    check("the refusal names the key") {
      try { Json.write(Seq("metrics" -> Seq("bad" -> Double.NegativeInfinity))); false }
      catch { case e: IllegalArgumentException => e.getMessage.contains("$.metrics.bad") }
    }
    check("finite doubles round-trip with all their digits") {
      val v = 0.1 + 0.2
      val s = Json.write(Seq("v" -> v))
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(s).get("v").asDouble() == v
    }
    check("output parses as JSON") {
      val s = Json.write(Seq("correct" -> true, "n" -> 3L, "xs" -> Seq(1.5, 2.0), "none" -> None, "e" -> 1e-9))
      val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
      t.get("correct").asBoolean() && t.get("xs").size() == 2 && t.get("none").isNull && t.get("e").asDouble() == 1e-9
    }
    if (failures > 0) sys.exit(1)
    println("JsonTest: all checks passed")
  }
}
