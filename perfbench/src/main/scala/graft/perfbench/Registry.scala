package graft.perfbench

import org.apache.spark.sql.DataFrame

import graft.{QueriesPipeline, SparkEntry}

/** `registry_heavy`: repeated passes over registry entries that weigh most
  * in the full-registry bench, one operation per entry (plan build plus
  * `count()`, as the registry bench times it). Outputs are checked outside
  * this process against each entry's DuckDB oracle.
  */
final class Registry(h: Harness, fixtureDir: String, outDir: String) {
  import Registry._

  private val spark = h.spark

  private def releaseStream(df: Option[DataFrame]): Unit = {
    df.foreach(d => try graft.operators.Dedup.releaseCheckpoints(d) catch { case _: Exception => () })
    try spark.streams.resetTerminated() catch { case _: Exception => () }
    try org.apache.spark.sql.execution.streaming.state.GraftStateStoreHygiene.unloadAll()
    catch { case _: Throwable => () }
  }

  /** Shared caches and every persisted block dropped, then a driver GC so
    * the context cleaner runs now rather than inside a later operation.
    */
  private def releaseAll(): Unit = {
    QueriesPipeline.releaseSharedCaches()
    spark.sparkContext.getPersistentRDDs.values.foreach(r =>
      try r.unpersist(blocking = false) catch { case _: Exception => () })
    releaseStream(None)
    System.gc()
  }

  def run(): Unit = {
    val fns = Entries.map(e => e -> SparkEntry.queries(e))
    var last: Option[DataFrame] = None
    /** Stream residue after each streaming entry; shared caches at family
      * boundaries and at the end of a pass.
      */
    def housekeep(name: String): Unit = {
      val i = Entries.indexOf(name)
      if (name.startsWith("s")) releaseStream(last)
      if (i == Entries.size - 1 || Entries(i + 1).head != name.head) releaseAll()
    }
    val round = fns.map { case (name, fn) =>
      name -> { (_: Int) =>
        last = None
        val df = Trace.span("registry.build")(fn(spark, fixtureDir))
        last = Some(df)
        Trace.span("registry.exec")(df.count())
      }
    }
    // One untimed pass, which also writes each entry's full output for the
    // oracle comparison (the timed passes only count rows).
    h.setupParts("setup.warmup_s") = h.warmUp(fns.map { case (name, fn) =>
      name -> { (_: Int) =>
        last = Some(fn(spark, fixtureDir))
        last.get.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        housekeep(name)
        0L
      }
    })
    h.loop(round)((rec, _) => housekeep(rec.name))
  }

  /** Per-entry medians of the build and execute spans. */
  def recordTraceLayers(): Unit = {
    val build = Trace.msByOp("registry.build")
    val exec = Trace.msByOp("registry.exec")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s((s.size - 1) / 2)
    }
    Entries.foreach { e =>
      val ids = h.records.filter(_.name == e).map(_.id)
      h.layers(s"registry.${key(e)}.build_ms") = median(ids.flatMap(build.get).toSeq)
      h.layers(s"registry.${key(e)}.exec_ms") = median(ids.flatMap(exec.get).toSeq)
    }
  }
}

object Registry {
  /** Heaviest entries of the full-registry bench, by family; see README. */
  val Entries: Seq[String] = Seq(
    "p02_dedup_ngram_jaccard", "p03_dedup_minhash_lsh", "p04_dedup_simhash",
    "p21_dedup_jaccard_dfcap", "p41_dedup_containment",
    "q105_aqe_skew_join",
    "s15_stream_update_mode")

  /** Timed passes a run makes at least. With four, `op_p50_ms` and
    * `op_p90_ms` each fall on the second of one entry's four samples, not
    * on a minimum; a fifth pass does not fit the run's time budget.
    */
  val Passes = 4

  def key(entry: String): String = entry.takeWhile(_ != '_')

  /** The registry's oracle SQL for the chosen entries. */
  def oracles: Map[String, String] = Entries.map(e => e -> SparkEntry.oracleSql(e)).toMap
}
