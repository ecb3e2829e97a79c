package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Materialize

/** Per-stage checkpoint/resume for multi-stage pipeline runs — the
  * engine's form of the reference's resume-on-crash behavior
  * (script/itemtoid.py:307 keeps a log of processed catalogues and
  * skips them on relaunch; script/wd2tei.py:115 same per file).
  *
  * Each stage materializes to `<ckptDir>/<stage>` parquet through
  * `sources.Materialize.at`, which commits it with a marker written
  * AFTER the data: a crash mid-write leaves no marker, so the relaunch
  * rebuilds exactly the unfinished stage and reuses every completed
  * one. Downstream stages read the materialized parquet, not the live
  * lineage, so a resumed run and a straight-through run execute the
  * same plans stage-by-stage. ckptDir may be local, HDFS, or an object
  * store — on a 1000-executor cluster a multi-hour run checkpoints to
  * the job's scratch bucket and a preempted driver resumes losing at
  * most one stage. */
object Restart {

  /** True if `name` committed in a previous (possibly crashed) run. */
  def isComplete(spark: SparkSession, ckptDir: String, name: String): Boolean =
    Materialize.committed(spark, ckptDir, name).isDefined

  /** Run `build` unless the stage already committed; either way return
    * the stage's output read back from the checkpoint. */
  def stage(spark: SparkSession, ckptDir: String, name: String)
      (build: => DataFrame): DataFrame =
    Materialize.at(spark, ckptDir, name)(_ => build)

  /** Done-log resume — the reference's `Logs.log_done`
    * (script/utils/classes.py:23): itemtoid/sparql append each processed
    * item's id to a log file and, on relaunch, skip everything already
    * logged. The Spark form is an ANTI-JOIN of the item table against
    * the processed-set (a distributed set-difference instead of a
    * per-row `in` check against a text file), running the entity stage
    * only on the remainder and unioning with the prior run's output.
    *
    * Gate semantics: the first run processed custkeys ≡ 0,1,2 (mod 5)
    * — the done-log. This query executes the RESUMED run (done leg ∪
    * anti-joined remainder leg, each through the same entity stage) and
    * the oracle computes the straight-through full run, so a green row
    * IS the proof that resumed ∪ done ≡ full. At 100 TB the done leg is
    * a parquet read-back (Restart.stage), the log is a key column, and
    * the anti-join broadcasts when the done-set is small or shuffles on
    * the item key when it is not — never a driver-side membership scan.
    */
  def stageResume(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val cust = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val doneLog = cust.filter(pmod(col("c_custkey"), lit(5)) < 3)
      .select(col("c_custkey"))
    // prior run's materialized output (in production: parquet read-back)
    val done = EntityMatch.entityMatchFor(spark, sfDir,
        cust.join(doneLog, Seq("c_custkey"), "semi"))
      .withColumn("resumed", lit(false))
    // the resume: everything NOT in the done-log, through the same stage
    val resumed = EntityMatch.entityMatchFor(spark, sfDir,
        cust.join(doneLog, Seq("c_custkey"), "left_anti"))
      .withColumn("resumed", lit(true))
    done.unionByName(resumed)
  }

  /** The composed reference pipeline (WikidataPipeline stages 1-4)
    * with a commit point between stages: match → enrich → rewrite.
    * Re-invoking after a crash resumes from the first uncommitted
    * stage. Returns (enriched entities, rewritten catalogues). */
  def runResumable(spark: SparkSession, catalogueDir: String, catalog: DataFrame,
      attrs: DataFrame, ckptDir: String): (DataFrame, DataFrame) = {
    val matched = stage(spark, ckptDir, "matched") {
      WikidataPipeline.itemToId(spark, catalogueDir, catalog)
    }
    val enriched = stage(spark, ckptDir, "enriched") {
      WikidataPipeline.enrich(matched, attrs)
    }
    val rewritten = stage(spark, ckptDir, "rewritten") {
      WikidataPipeline.refInjectXml(
        graft.sources.TeiCatalog.readCatalogues(spark, catalogueDir), matched)
    }
    (enriched, rewritten)
  }
}
