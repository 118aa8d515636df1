package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  import Bench.Run

  private def field(line: String, key: String): String = {
    val i = line.indexOf("\"" + key + "\":")
    assert(i >= 0, s"no $key in $line")
    line.substring(i + key.length + 3).takeWhile(c => c != ',' && c != '}')
  }

  test("a query that throws is named as failed, never timed into the total") {
    val reps = Seq(
      Seq(Run("q_ok", 2.0, None), Run("q_boom", 0.01, Some("java.lang.RuntimeException: boom")),
        Run("q_flaky", 1.0, None)),
      Seq(Run("q_ok", 1.5, None), Run("q_boom", 0.01, Some("java.lang.RuntimeException: boom")),
        Run("q_flaky", 0.9, Some("java.io.IOException: \"disk\" gone"))))
    val (full, short) = Bench.lines(reps, "/data/sf", 0.5, 0.7)
    assert(field(short, "value") == "1.500") // q_ok's min; neither failed query counts
    assert(field(short, "ok") == "1")
    assert(field(short, "failed_n") == "2")
    assert(short.contains("\"failed\":[\"q_boom\",\"q_flaky\"]"), short)
    assert(short.contains("\"slowest\":{\"q_ok\":1.500}"), short)
    assert(full.contains("\"queries\":{\"q_ok\":1.5}"), full)
    assert(full.contains("\"q_flaky\":\"java.io.IOException: \\\"disk\\\" gone\""), full)
    assert(full.contains("\"q_boom\":[0.01,0.01]"), full) // every rep kept in the full line
  }

  test("the stdout line stays under 2,000 chars for the whole surface, even if all of it fails") {
    val names = (0 until 400).map(i => f"some_rather_long_query_name_$i%03d")
    for (err <- Seq(None, Some("java.lang.IllegalStateException: broken"))) {
      val rep = names.map(n => Run(n, 1.25, err))
      val (_, short) = Bench.lines(Seq(rep, rep), "/data/sf0.1", 1.0, 1.0)
      assert(short.length < 2000, s"${short.length} chars")
      assert(field(short, "failed_n") == (if (err.isEmpty) "0" else "400"))
    }
  }
}
