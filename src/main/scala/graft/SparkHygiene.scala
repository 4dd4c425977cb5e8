package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Block-manager and session-conf hygiene for micro-batch loops.
  *
  * `localCheckpoint(eager = true)` parks the materialized rows in the
  * block manager; Spark frees them only when the ContextCleaner notices
  * the RDD got garbage-collected — which under driver memory pressure
  * lags arbitrarily. A micro-batch loop that checkpoints state every
  * batch therefore accumulates every superseded state version until GC
  * happens to run. These helpers free superseded checkpoints
  * deterministically instead, and [[withBatchExecution]] gives a batch
  * its execution settings without leaving them on the caller's session.
  */
object SparkHygiene {

  /** Release the block-manager storage behind a `localCheckpoint`'d
    * frame. No-op for frames that aren't checkpoint-backed (e.g. the
    * empty bootstrap state), so callers can free unconditionally.
    */
  def freeCheckpoint(df: Dataset[_]): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Temp directory that is recursively deleted at JVM exit — for
    * streaming catalog entries that must drain a query to a filesystem
    * sink before the caller can read the result back. `deleteOnExit`
    * alone can't remove non-empty directories, so repeated catalog
    * evaluations (sweeps, plan probes) would leak checkpoint/output
    * trees under /tmp; one shutdown hook per directory reaps them.
    */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file._
      import java.util.Comparator
      try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }))
    p.toString
  }

  /** Session clone for streaming catalog entries with the STATEFUL
    * shuffle sized to the corpus instead of the host: a streaming
    * query's state-store instance count is fixed by
    * `spark.sql.shuffle.partitions` at first checkpoint, and each
    * instance pays per-micro-batch snapshot/commit I/O whether or not
    * it holds data — so running a 100k-row drain with 32 state
    * partitions buys no parallelism and pays 32 partitions × batches ×
    * stateful-operators of fixed cost (measured: w9_outer drops ~7 s
    * going 32 → 4; the catalog callers pass 8, which lands within
    * run-to-run noise of the 4-partition floor — the cost is ~linear
    * in instance count — while keeping 2× headroom over 4 for the
    * sf0.1 state volume). Scan/sink parallelism is untouched (same
    * SparkContext and cores); only the stateful exchange narrows. At
    * real volumes the caller raises `partitions` — this is the state
    * sizing knob a deployment tunes, made explicit.
    */
  def streamStateSession(s: SparkSession, partitions: Int): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    GraftExtensions.register(s2)
    s2
  }

  /** Runs `body`, one micro-batch's dataflow, under the batch execution
    * discipline, set through [[withConf]], so `spark.conf.getAll` is the
    * same after the call.
    *
    * - Interpreted execution (`spark.sql.codegen.factoryMode=NO_CODEGEN`,
    *   which turns off expression and whole-stage codegen). A batch plans
    *   ~150 distinct generated classes, more than Spark's codegen class
    *   cache holds (the static `spark.sql.codegen.cache.maxEntries`,
    *   default 100), so with codegen every batch compiled ~200 classes
    *   again at 10-13 ms each, although nearly all of them were
    *   byte-identical to the previous batch's. Interpreted, a feed batch
    *   compiles at most one, and the median batch of the news-stream
    *   benchmark (4 cores) took ~40% (`open_feed`) and ~30%
    *   (`cdc_decoupled`) less time. The price: the conf is Spark-internal (documented as not for
    *   end users), so `StreamingBatchSpec` pins its effect with a compile
    *   count; and the ε-join's dot product runs through
    *   `FloatVectorDot.nullSafeEval` (the same arithmetic as its
    *   generated code), which made the connected-components collect of a
    *   500 × 508-pair, dim-256 batch slower (391 → 450 ms).
    * - `shufflePartitions`, when given: a batch is bounded, so host-sized
    *   exchanges are scheduling overhead.
    * - `adaptive`, when given: AQE on or off for the batch.
    *
    * The keys are set on `spark` itself, so a read the caller runs
    * alongside on the same session runs interpreted too; a streaming
    * caller passes its micro-batch's session (the stream's clone). Two
    * callers whose spans overlap on one session see each other's
    * settings and can leave a key set for good: the second saves the
    * first one's value as what it found and puts it back last.
    */
  def withBatchExecution[T](spark: SparkSession, shufflePartitions: Option[Int] = None,
                            adaptive: Option[Boolean] = None)(body: => T): T =
    withConf(spark, Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN") ++
      shufflePartitions.map(n => "spark.sql.shuffle.partitions" -> n.toString) ++
      adaptive.map(a => "spark.sql.adaptive.enabled" -> a.toString))(body)

  /** Runs `body` with `settings` set on `spark`'s conf, then puts back
    * each key exactly as it found it: a key the caller had not set is
    * unset again, not written back as its default, so `spark.conf.getAll`
    * is the same after the call. */
  def withConf[T](spark: SparkSession, settings: Seq[(String, String)])(body: => T): T = {
    val conf = spark.conf
    // `getOption` answers an unset key with its default; `getAll` holds
    // only the keys that are set
    val set = conf.getAll
    val found = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally found.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Drop every persistent RDD still registered with the context —
    * DataFrame caches AND checkpoint blocks. For harnesses (bench,
    * verify) between independent queries: each query starts cold and no
    * prior query's leftovers distort its memory budget.
    */
  def dropAllPersisted(spark: SparkSession): Unit = {
    // blocking: an async drop races the NEXT query's memory allocation
    // on the storage lock (measured: a 5× spike on the query after a
    // large cache drop) — pay the removal here, outside any measurement
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }
}
