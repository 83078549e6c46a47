package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fork-refinement pass trusts [[Bench.parseArtifactEntry]] to read a
  * child JVM's artifact back; a silent mis-parse would replace a real
  * measurement with a wrong one, so the extraction is pinned here.
  */
class BenchSpec extends AnyFunSuite {

  private val artifact =
    """{"metric":"total","value":12.5,"unit":"sec","queries":{""" +
      """"q1_agg":1.228,"dedup_embedding":10.005,"recall_embedding_lsh":24.050},""" +
      """"sf":"/tmp/graft_sf1"}"""

  test("extracts the named query's seconds from the queries map") {
    assert(Bench.parseArtifactEntry(artifact, "dedup_embedding").contains(10.005))
    assert(Bench.parseArtifactEntry(artifact, "q1_agg").contains(1.228))
  }

  test("a query name that is a prefix of another never matches the longer entry") {
    // "recall_embedding_lsh" contains no standalone "embedding" key: the
    // quoted-name regex must anchor on the full quoted key.
    assert(Bench.parseArtifactEntry(artifact, "embedding").isEmpty)
    assert(Bench.parseArtifactEntry(artifact, "recall_embedding_lsh").contains(24.050))
  }

  test("missing query and per-line query records yield None") {
    assert(Bench.parseArtifactEntry(artifact, "nope").isEmpty)
    // A per-query progress line quotes the name as a VALUE — no bare
    // `"name":number` pair, so nothing to (mis)read.
    val progress = """{"query":"corpus_clean","sec":2.698,"reps":[2.6,2.7,2.8]}"""
    assert(Bench.parseArtifactEntry(progress, "corpus_clean").isEmpty)
  }

  // The trailing compact line exists because the driver's stdout capture
  // keeps only the last ~2000 characters: the full 153-query line cannot
  // fit, so the LAST printed line must be a complete JSON object within
  // that window (rounds 9-11 recorded "parsed": null without it).
  test("compact line fits its budget and keeps the most expensive queries") {
    val ok = (1 to 200).map(i => (f"some_quite_long_query_name_$i%03d", i / 10.0))
    val line = Bench.compactLine(total = 123.456, ok = ok, failed = Seq.empty,
      flakyJson = "{}", seedState = true, sfDir = "/root/testdata/sf0.1",
      out = "BENCH_local.json", budget = 1500)
    assert(line.length <= 1500)
    assert(line.startsWith("{") && line.endsWith("}}"))
    // Most expensive query survives truncation; the cheapest is dropped.
    assert(line.contains("\"some_quite_long_query_name_200\":20.000"))
    assert(!line.contains("some_quite_long_query_name_001"))
    assert(line.contains("\"queries_truncated_to_top\":true"))
    assert(Bench.parseArtifactEntry(line, "some_quite_long_query_name_200").contains(20.0))
  }

  // A failed RUN is exactly when the compact line must parse — but each
  // failed query used to embed its FULL error message in the fixed head,
  // so a handful of verbose Spark exceptions pushed the line past the
  // tail window and reproduced the "parsed": null failure on the runs
  // that matter most.
  test("failed error messages are truncated to 60 chars in the compact head") {
    val boom = "org.apache.spark.SparkException: " + ("x" * 500)
    val line = Bench.compactLine(total = 1.0, ok = Seq(("q1_agg", 1.0)),
      failed = Seq(("bad_query", boom)), flakyJson = "{}",
      seedState = false, sfDir = "sf", out = "o", budget = 1500)
    assert(line.length <= 1500)
    assert(line.contains("\"failed_count\":1"))
    assert(line.contains("\"bad_query\":\"" + boom.take(60) + "\""))
    assert(!line.contains(boom.take(61)))
  }

  test("a mass failure degrades the failed map to {} but keeps failed_count") {
    val failed = (1 to 100).map(i => (f"query_that_failed_$i%03d", "e" * 60))
    val line = Bench.compactLine(total = 0.0, ok = Seq.empty, failed = failed,
      flakyJson = "{}", seedState = false, sfDir = "sf", out = "o", budget = 1500)
    assert(line.length <= 1500)
    assert(line.contains("\"failed\":{}"))
    assert(line.contains("\"failed_count\":100"))
    assert(line.endsWith("\"queries\":{}}"))
  }

  test("per-gate compile record counts the classes a gate compiles") {
    import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.LongType
    val (n0, ms0) = Bench.compileCounter()
    // A literal no other test uses: a cache hit would compile nothing.
    GenerateUnsafeProjection.generate(Seq(
      Add(BoundReference(0, LongType, nullable = false), Literal(System.nanoTime()))))
    val (n1, ms1) = Bench.compileCounter()
    assert(n1 >= n0 + 1 && ms1 > ms0)
    val json = Bench.compilesJson(Seq(("q1_agg", n1 - n0, 12.3456), ("fn_safe_decimal", 0L, 0.0)))
    assert(json == """{"q1_agg":{"classes":1,"ms":12.346},"fn_safe_decimal":{"classes":0,"ms":0.000}}""")
  }

  test("compact line stays valid JSON when nothing fits the budget") {
    val ok = Seq(("x" * 400, 1.0))
    val line = Bench.compactLine(total = 1.0, ok = ok,
      failed = Seq(("bad_query", "boom")), flakyJson = "{}",
      seedState = false, sfDir = "sf", out = "o", budget = 420)
    assert(line.endsWith("\"queries\":{}}"))
    assert(line.contains("\"failed_count\":1"))
  }
}
