package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Joins

/** [[Evidence]] — the one runner for the evidence experiments: its
  * name dispatch, its JSON line writer, and the input-driven family
  * choice of `candidate_economy`.
  */
class EvidenceSpec extends AnyFunSuite {
  import TestSpark._

  private val names = Seq("candidate_economy", "skew_join", "txlog_economy",
    "ivm_timing", "txlog_race", "exactly_once", "plan_dump")

  test("a missing or unknown experiment yields the usage listing every name, not a run") {
    for (args <- Seq(Seq.empty, Seq("fuzzy_economy"), Seq("nope", "/tmp"))) {
      Evidence.dispatch(args) match {
        case Left(usage) => names.foreach(n => assert(usage.contains(n), s"$n missing from: $usage"))
        case Right(_) => fail(s"$args dispatched to a run")
      }
    }
    names.foreach(n => assert(Evidence.dispatch(Seq(n)).isRight, n))
  }

  test("the JSON writer escapes quote, backslash and control chars in string fields") {
    val sf = "/data/\"q\"\\x\ny\tz\u0001end"
    // each escape spelled out: \" \" \\ \n \t \u0001
    val escaped = "/data/" + "\\\"q\\\"" + "\\\\x" + "\\ny" + "\\tz" + "\\u0001end"
    assert(Evidence.json("metric" -> "m", "sf" -> sf, "n" -> 3L, "ok" -> true) ==
      "{\"metric\":\"m\",\"sf\":\"" + escaped + "\",\"n\":3,\"ok\":true}")
  }

  test("the JSON writer prints doubles with a decimal point under a comma-decimal locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.3f", Double.box(1.5)) == "1,500") // the locale is live
      assert(Evidence.json("sec" -> 1.5, "secs" -> Seq(0.25, 2.0)) ==
        """{"sec":1.500,"secs":[0.250,2.000]}""")
    } finally Locale.setDefault(prev)
  }

  test("candidate_economy on a part-only dir prints just the fuzzy line, with the direct counts") {
    val dir = Files.createTempDirectory("graft-evidence-parts")
    try {
      Files.copy(Paths.get(sfTiny, "part.parquet"), dir.resolve("part.parquet"))
      val d = dir.toString
      val out = new ByteArrayOutputStream()
      Console.withOut(out)(CandidateEconomy.run(spark, Seq(d)))
      val lines = out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
      assert(lines.size == 1, lines)
      val keys = """"([a-z_]+)":""".r.findAllMatchIn(lines.head).map(_.group(1)).toSeq
      assert(keys == Seq("metric", "family", "sf", "first_token_pairs",
        "rarest_token_pairs", "result_pairs", "first_sec", "rarest_sec"))
      def field(k: String): String =
        s""""$k":("[^"]*"|[0-9.]+)""".r.findFirstMatchIn(lines.head).get.group(1)
      assert(field("metric") == "\"candidate_economy\"" && field("family") == "\"fuzzy\"")
      assert(field("first_token_pairs").toLong == Joins.fuzzyCandidatesFirstToken(spark, d).count())
      assert(field("rarest_token_pairs").toLong == Joins.fuzzyCandidatesRarest(spark, d).count())
      assert(field("result_pairs").toLong == Joins.joinFuzzyJaro(spark, d).count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
