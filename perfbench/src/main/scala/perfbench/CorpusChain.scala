package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.operators.{ColOps, Dedup, Packing, TextOps, Warc}

/** The layers of q_corpus_build_warc, rebuilt from the library's public
  * operators so each prefix of the chain can be evaluated on its own:
  * a layer's cost is the difference between successive prefixes under
  * the full-output sink. The full chain must reproduce the query's
  * output fingerprint, which the harness checks.
  */
object CorpusChain {
  val Layers: Seq[String] = Seq("read", "decode", "quality", "dedup", "bpe_train", "encode", "pack")

  /** Render the documents table as `.warc.gz` shards (doc_id modulo the
    * shard count, ascending doc_id, the library's shard renderer) into
    * `dir`, the same archive the query stages for itself.
    */
  def stageShards(spark: SparkSession, data: String, dir: java.nio.file.Path): Unit = {
    val rows = ColOps.table(spark, data, "documents").select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    java.nio.file.Files.createDirectories(dir)
    (0 until Warc.NumShards).foreach { i =>
      java.nio.file.Files.write(dir.resolve(f"shard-$i%02d.warc.gz"),
        Warc.renderShard(i, rows.filter(_._1 % Warc.NumShards == i)))
    }
  }

  /** The chain up to and including layer `upTo` (an index into [[Layers]]),
    * built from scratch: eager checkpoints of earlier layers re-run.
    */
  def prefix(spark: SparkSession, shards: String, upTo: Int): DataFrame = {
    val read = spark.read.format("binaryFile").load(shards)
    if (upTo == 0) return read
    val decoded = Warc.extract(read).select(col("doc_id"),
      call_function("replace", col("extracted"), lit("\n"), lit(" ")).as("text"))
    if (upTo == 1) return decoded
    val kept = Materialize.checkpoint(decoded.filter(TextOps.qualityKeep(col("text"))))
    if (upTo == 2) return kept
    val canon = Materialize.checkpoint(kept.join(
      Dedup.exact(kept, "doc_id", "text").select(col("keep_id").as("doc_id")), "doc_id"))
    if (upTo == 3) return canon
    val state = TextOps.bpeRun(canon, "text", 6)._2
    if (upTo == 4) return state
    val enc = TextOps.tokenizeIdArrays(canon, "doc_id", "text", state)
    if (upTo == 5) return enc
    Packing.packTokenIds(enc, "doc_id", 128L)
  }
}
