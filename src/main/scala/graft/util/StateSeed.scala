package graft.util

/** Bench-only reuse of persisted state-table fixtures.
  *
  * The incremental gates (ingest dedup, CC label maintenance, embedding
  * near-dup) model a deployment that MAINTAINS state tables across
  * batches: the history index / label table already exists when a batch
  * arrives, and the operator's steady-state cost is the incremental fold
  * alone. The gates build that state inline so the correctness contract
  * stays self-contained — but in a timed run, median-of-reps then
  * measures mostly fixture construction (state is rebuilt every rep),
  * which buries the operator cost the benchmark exists to track.
  *
  * When the session passed to `root` has `spark.graft.seedState=true`
  * ([[graft.GraftConf]]; Bench's session sets it, Verify's never does),
  * `root` builds each (tag, sfDir) state ONCE per JVM and returns the
  * same on-disk root to later calls — reps then measure the incremental
  * operator against pre-existing state, the deployment shape. State construction is deterministic in sfDir, so
  * reuse cannot change any result, only its timing; the bench artifact
  * records `"seeded_state"` so numbers are never compared across modes
  * unknowingly.
  */
object StateSeed {

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Tags touched since the last [[drainTouched]] — Bench drains this
    * after each query's reps to record, per query, WHICH state fixtures
    * were seedable (the artifact's `seeded_queries` map), so
    * round-over-round diffs can auto-exclude measurement-mode changes
    * instead of reading a seeding change as a 10x optimization.
    */
  private val touched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Tags accessed since the previous drain (cleared by the call). */
  def drainTouched(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val out = touched.asScala.toSeq.sorted
    touched.clear()
    out
  }

  /** A state root for `tag` at `sfDir`: fresh-built per call normally,
    * built once and reused when `spark` seeds state.
    */
  def root(spark: org.apache.spark.sql.SparkSession, tag: String, sfDir: String)(
      build: String => Unit): String = {
    touched.add(tag)
    def fresh(): String = { val r = Scratch.dir(tag); build(r); r }
    if (!graft.GraftConf(spark).seedState) fresh()
    else cache.computeIfAbsent(s"$tag|$sfDir", _ => fresh())
  }
}
