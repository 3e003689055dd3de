package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.DocStream

/** Streaming surface demo: the docs corpus split into 3 arriving files ->
  * 3 micro-batches; stateful dedup must carry first-seen state across
  * batches. Run: sbt "runMain graft.tools.StreamDemo" */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark(4)
    import spark.implicits._

    // stage 3 arriving files (split by doc_id ranges so later batches
    // contain duplicates of earlier batches' texts)
    val stage = java.nio.file.Files.createTempDirectory("graft_stream_demo").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Seq((0, 170), (170, 340), (340, 500)).zipWithIndex.foreach { case ((lo, hi), i) =>
      docs.filter($"doc_id" >= lo && $"doc_id" < hi)
        .coalesce(1).write.parquet(s"$stage/batch$i")
    }
    // 4th batch: the first 50 texts re-arrive under fresh doc_ids — the
    // cross-batch duplicate path
    docs.filter($"doc_id" < 50).withColumn("doc_id", $"doc_id" + 10000)
      .coalesce(1).write.parquet(s"$stage/batch3")
    // flatten part files into the watch dir
    val watch = new java.io.File(s"$stage/watch"); watch.mkdirs()
    (0 until 4).foreach { i =>
      new java.io.File(s"$stage/batch$i").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          new java.io.File(watch, s"b$i.parquet").toPath))
    }

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    val q = DocStream.dedupStream(spark, stream)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("dedup_demo").start()
    q.processAllAvailable()
    val batches = q.recentProgress.map(p => p.numInputRows).toSeq
    q.stop()
    println(s"micro_batches=${batches.count(_ > 0)} rows_per_batch=${batches.filter(_ > 0).mkString(",")}")
    val out = spark.sql("SELECT * FROM dedup_demo")
    println(s"classified=${out.count()} dups=${out.filter($"is_duplicate").count()}")
    val bad = out.groupBy($"text_hash")
      .agg(sum(when(!$"is_duplicate", 1).otherwise(0)).as("owners"))
      .filter($"owners" =!= 1).count()
    println(s"hashes_with_not_exactly_one_owner=$bad")
    spark.stop()
  }
}
