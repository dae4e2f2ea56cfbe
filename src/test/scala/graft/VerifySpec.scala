package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The round-12 postmortem pin: a query that throws must surface as an
  * explicit `err` row in the correctness artifacts, never as a silent
  * absence (31 broken queries once read as a green-looking file with
  * fewer rows).
  */
class VerifySpec extends SparkSpec {

  test("erred queries appear in errors.json with err set; green ones don't") {
    val tmp = Files.createTempDirectory("graft-verify").toString
    val good: (SparkSession, String) => DataFrame =
      (s, dir) => tables.Tables.region(s, dir)
    val bad: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("induced failure for VerifySpec")
    val errs = Verify.dumpQueries(spark, sfDir, tmp,
      Seq("good_query" -> good, "bad_query" -> bad))
    Verify.writeErrors(tmp, errs)

    assert(errs.keySet == Set("bad_query"))
    assert(errs("bad_query").contains("induced failure"))
    // the green query's parquet landed; the bad one's didn't
    assert(spark.read.parquet(s"$tmp/good_query").count() > 0)
    assert(!Files.exists(Paths.get(s"$tmp/bad_query")))

    val json = Files.readString(Paths.get(s"$tmp/errors.json"))
    assert(json.contains("\"bad_query\": {\"err\": \"IllegalStateException: induced failure for VerifySpec\"}"))
    assert(!json.contains("good_query"))
  }

  test("a failed query deletes its stale parquet from an earlier run into the same dir") {
    // reused artifact dir: run green first, then the same query name
    // fails — the old green parquet must NOT survive to read as a pass
    val tmp = Files.createTempDirectory("graft-verify-stale").toString
    val good: (SparkSession, String) => DataFrame =
      (s, dir) => tables.Tables.region(s, dir)
    val bad: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("second-run failure")
    Verify.dumpQueries(spark, sfDir, tmp, Seq("q" -> good))
    assert(Files.exists(Paths.get(s"$tmp/q")))
    val errs = Verify.dumpQueries(spark, sfDir, tmp, Seq("q" -> bad))
    assert(errs.keySet == Set("q"))
    assert(!Files.exists(Paths.get(s"$tmp/q")),
      "stale green parquet outlived the failure that superseded it")
  }

  test("errors.json is {} when everything passes") {
    val tmp = Files.createTempDirectory("graft-verify-green").toString
    Verify.writeErrors(tmp, Map.empty)
    assert(Files.readString(Paths.get(s"$tmp/errors.json")) == "{}")
  }

  test("Verify.q escapes quotes, backslashes and control chars as the bench failure map did") {
    val raw = "a\"b\\c\nd\te" + 1.toChar + "f"
    // the bench line's own escaper gave these pieces; q adds the quotes
    val escaped = Seq("a", "\\\"", "b", "\\\\", "c", "\\n", "d", "\\t", "e", "\\" + "u0001", "f")
    assert(Verify.q(raw) == "\"" + escaped.mkString + "\"")
  }

  test("manifest.json lists the attempted names — the fail-closed contract") {
    // check.py walks manifest ∪ result dirs and FAILS any attempted name
    // with no dir, so an erred (dir-deleted) or never-reached query can
    // no longer read as green in a dir-glob; this pins the writer side
    val tmp = Files.createTempDirectory("graft-verify-manifest").toString
    Verify.writeManifest(tmp, Seq("b_query", "a_query"), 339)
    val json = Files.readString(Paths.get(s"$tmp/manifest.json"))
    assert(json ==
      """{"attempted": ["a_query","b_query"], "registered": 339}""")
  }
}
