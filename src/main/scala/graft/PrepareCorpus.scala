package graft

/** Runnable corpus-preparation job:
  * `runMain graft.PrepareCorpus <documentsParquet> <outDir> [tau]`
  *
  * Reads a documents table (doc_id, text, ...), runs the composed
  * pipeline (quality gates → near-dup clustering → canonical keeper →
  * PII redaction → chunking; see [[graft.ops.CorpusPipeline]]) and
  * writes the chunk table to `<outDir>` as parquet — the artifact a
  * downstream embedding/indexing pass consumes. On a cluster, submit
  * the same class with `--master`; the dataflow needs no code change.
  */
object PrepareCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PrepareCorpus <documentsParquet> <outDir> [tau]")
    val Array(in, out) = args.take(2)
    val tau = if (args.length > 2) args(2).toDouble else 0.5
    val spark = GraftSession("graft-prepare-corpus")
    val chunks = ops.CorpusPipeline.prepare(spark.read.parquet(in), tau)
    chunks.write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).count()
    println(s"[prepare-corpus] wrote $n chunks to $out (tau=$tau)")
    spark.stop()
  }
}
