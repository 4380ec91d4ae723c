package graft.streaming

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.jobs.ValidationJob
import graft.model.Sequence
import scala.collection.mutable.ListBuffer

/** startDeltaValidating: the streaming orchestrator over the full
  * rules-complete append-delta ValidationJob. */
class StreamingDeltaSpec extends SparkSpec {
  import spark.implicits._

  test("arrivals trigger delta validation of exactly the grown " +
      "partitions; replayed/no-op restarts re-run nothing") {
    val dir = tmpDir("sdelta")
    SequenceGen.sequences(spark, 600)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/in")
    SequenceGen.manifest(spark, 600)
      .write.mode("overwrite").parquet(s"$dir/manifest")

    val reports = ListBuffer.empty[ValidationJob.RunReport]
    def runStream(): Unit = {
      val q = StreamingValidation.startDeltaValidating(
        spark, s"$dir/in", s"$dir/manifest", s"$dir/out",
        onReport = r => reports.synchronized { reports += r })
      q.awaitTermination(120000)
    }

    // batch 1: everything is new -> full validation, nothing delta
    runStream()
    assert(reports.nonEmpty)
    assert(reports.map(_.rowsValidated).sum === 600L)
    assert(reports.forall(_.deltaPartitions.isEmpty))
    val afterFirst = reports.size

    // a file lands in ONE existing partition (one dup of history)
    val oldDoc = spark.read.parquet(s"$dir/in").as[Sequence]
      .filter($"source" === "mito").head()
    Seq(
      Sequence("DSTREAM0000001", Array(1, 2), 2, "mito"),
      Sequence(oldDoc.doc_id, Array(3), 1, "mito"))
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/in")
    runStream()
    val r2 = reports.drop(afterFirst)
    assert(r2.map(_.deltaPartitions).flatten.toSeq === Seq("mito"),
      reports.mkString("\n"))
    assert(r2.map(_.rowsValidated).sum === 2L)
    // the old-vs-new duplicate is booked cross-run
    val dv = spark.read.parquet(ValidationJob.violationsPath(s"$dir/out"))
    assert(dv.filter($"rule_id" === "R_CROSS_RUN_UNIQUE")
      .select("doc_id").as[String].collect().toSet === Set(oldDoc.doc_id))
    val afterSecond = reports.size

    // nothing new on disk: the stream checkpoint admits no batch
    runStream()
    assert(reports.size === afterSecond)
  }
}
