package graft
import org.apache.spark.sql.functions._

/** Dev tool: dump the PRODUCTION inputs the multimodal fixture generator
  * needs (scripts/make_multimodal_fixture.py) for one SF dir. Everything
  * the fixtures assert is predicted CLOSED-FORM by the Python generator;
  * the only production values exported here are
  *   - encoded payload LENGTHS (PNG/WAV/GIF byte counts are
  *     encoder-internal — zlib block choices etc. — and are compared as
  *     given, not re-derived), and
  *   - the 8×8 luma embeddings (Java2D's bilinear resampler is not
  *     bit-specified, so the embedding fixture pins a snapshot and DuckDB
  *     independently re-ranks the whole ANN stage from it).
  * Usage: sbt "runMain graft.DumpMedia /root/testdata/sf0.01 /tmp/mmdump/sf0.01"
  */
object DumpMedia {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = core.Session.local(core.Session.cpus)
    val docs = graft.core.Tables.documents(spark, sfDir)
    val media = ext.Multimodal.syntheticMedia(docs, "doc_id", "text")
    media.filter(col("media_id") < 120)
      .select(col("media_id"), length(col("media")).cast("long").as("payload_bytes"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/lens_raw")
    ext.Multimodal.sampleFrames(ext.Multimodal.resizeImages(media, 16, 12), 2)
      .select(col("media_id"), length(col("media")).cast("long").as("payload_bytes"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/lens_transformed")
    val emb = ext.Multimodal.imageEmbeddings(
      ext.Multimodal.syntheticMedia(
        docs.filter(col("doc_id") < 60), "doc_id", "text"), grid = 8)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/embeddings")
    spark.stop()
  }
}
