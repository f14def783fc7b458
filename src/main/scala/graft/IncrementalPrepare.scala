package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus-preparation job:
  * `runMain graft.IncrementalPrepare <documentsParquet> <stateDir> [tau]`
  *
  * Each invocation is one ROUND: discover input files not yet
  * processed (file-level diff — works unchanged on a plain parquet dir
  * or a lakehouse table's partition tree), screen their documents
  * against everything the corpus has already seen
  * ([[graft.ops.IncrementalCorpus.screen]]: exact md5 + MinHash band
  * probe), run the composed pipeline
  * ([[graft.ops.CorpusPipeline.prepare]]) on the survivors only, and
  * append the round's chunks and dedup-state under `round=N`
  * partitions.
  *
  * Crash safety: the `processed/` file list is written LAST and is the
  * round's commit marker. A re-run after a mid-round failure computes
  * the same round id (max committed round + 1), screens only against
  * committed rounds (`round < N` — the round's own orphaned state must
  * not screen out its own docs), and OVERWRITES the `round=N`
  * partitions — so a failed round replays idempotently, the same
  * manifest-last commit discipline as the lakehouse writer
  * (IngestWriter). State layout under `<stateDir>`:
  * `chunks/ fps/ band_index/ shingles/ processed/`, each
  * round-partitioned parquet.
  */
object IncrementalPrepare {

  private def readIf(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path)) catch {
      case _: AnalysisException => None // dir absent: first round
    }

  /** Run one round; returns (roundId, docs that entered the pipeline). */
  def run(spark: SparkSession, in: String, stateDir: String,
          tau: Double = 0.5): (Int, Long) = {
    val chunksDir = s"$stateDir/chunks"
    val fpsDir = s"$stateDir/fps"
    val bandsDir = s"$stateDir/band_index"
    val shinglesDir = s"$stateDir/shingles"
    val processedDir = s"$stateDir/processed"

    val processed = readIf(spark, processedDir)
    val roundId = processed
      .map(_.agg(max(col("round"))).head().getInt(0) + 1).getOrElse(0)
    // committed rounds only: an orphaned round=N state from a crashed
    // run must not screen out its own re-run
    def committed(path: String): Option[DataFrame] =
      readIf(spark, path).map(_.filter(col("round") < roundId))

    // pathGlobFilter: a lakehouse table dir carries metadata.json
    // manifests beside its parquet (verified: a plain read attempts
    // them as parquet and fails); harmless on a plain parquet dir
    val all = spark.read.option("pathGlobFilter", "*.parquet").parquet(in)
      .select(col("*"), col("_metadata.file_path").as("__file"))
    val newRows = processed match {
      case Some(p) => all.join(
        p.select(col("file").as("__file")).distinct(),
        Seq("__file"), "left_anti")
      case None => all
    }
    val files = newRows.select(col("__file").as("file")).distinct()
    val newDocs = newRows.drop("__file")
    if (newDocs.isEmpty) {
      println(s"[incremental] round $roundId: no new files, nothing to do")
      return (roundId, 0L)
    }

    // materialized once (localCheckpoint): five consumers below
    // (pipeline, fps, band index, shingles, count) would otherwise
    // each re-run the file diff + screen joins; the screened batch is
    // bounded by the round's new files — at cluster scale swap for
    // persist(MEMORY_AND_DISK) with an unpersist after the commit
    val fresh = ((committed(fpsDir), committed(bandsDir),
      committed(shinglesDir)) match {
      case (Some(f), Some(b), Some(s)) =>
        ops.IncrementalCorpus.screen(newDocs, f, b, s, tau)
      case _ => newDocs // round 0: nothing seen yet
    }).localCheckpoint(true)

    def put(df: DataFrame, dir: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/round=$roundId")

    put(ops.CorpusPipeline.prepare(fresh, tau), chunksDir)
    // index EVERYTHING screened-in (not just pipeline keepers): a
    // future copy of any seen doc must screen out, even if this
    // round's quality gates dropped the doc — the gates are
    // deterministic, re-judging a copy cannot change the verdict
    put(ops.IncrementalCorpus.fingerprints(fresh), fpsDir)
    // screening-only consumers (the screen() gate above): collapse
    // exact dups so a mega-cluster costs one index row set, not one
    // per copy — boolean fates provably unchanged
    put(ops.DedupOps.corpusBandIndex(fresh, collapseExact = true), bandsDir)
    put(ops.DedupOps.corpusShingleSets(fresh, collapseExact = true), shinglesDir)
    val accepted = fresh.count()
    put(files, processedDir) // commit marker: written last
    println(s"[incremental] round $roundId: " +
      s"${files.count()} new files, $accepted docs entered the pipeline")
    (roundId, accepted)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IncrementalPrepare <documentsParquet> <stateDir> [tau]")
    val tau = if (args.length > 2) args(2).toDouble else 0.5
    val spark = GraftSession("graft-incremental-prepare")
    run(spark, args(0), args(1), tau)
    spark.stop()
  }
}
