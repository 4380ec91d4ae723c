package graft.sources

import graft.SparkSpec
import graft.gen.SequenceGen
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

class TableIOSpec extends SparkSpec {
  import spark.implicits._

  test("manifest TSV round-trips with trim + fill semantics") {
    val dir = tmpDir("tsv")
    val tsv = s"$dir/manifest_tsv"
    SequenceGen.manifest(spark, 200).toDF()
      .withColumn("source", concat(lit("  "), col("source"), lit(" ")))
      .createOrReplaceTempView("m")
    TableIO.writeManifestTsv(spark.table("m"), tsv)
    val back = TableIO.readManifestTsv(spark, tsv)
    val srcs = back.select("source").as[String].collect().toSet
    assert(srcs === SequenceGen.sources.toSet) // trimmed
    assert(back.count() === SequenceGen.sources.size)
    assert(back.schema.fieldNames.toSeq ===
      Seq("source", "expected_docs", "min_tok", "max_tok"))
  }

  test("manifest TSV missing a required column aborts (reference " +
      "pre-flight hard fail)") {
    val dir = tmpDir("tsvbad")
    val tsv = s"$dir/manifest_bad"
    // header lacks expected_docs
    Seq(("cardiac", 0, 100)).toDF("source", "min_tok", "max_tok")
      .coalesce(1).write.option("sep", "\t").option("header", "true").csv(tsv)
    val e = intercept[IllegalArgumentException] {
      TableIO.readManifestTsv(spark, tsv)
    }
    assert(e.getMessage.contains("expected_docs"))
  }

  test("deletePartitions removes exactly the named hive partitions") {
    val dir = tmpDir("delpart")
    SequenceGen.sequences(spark, 300)
      .write.partitionBy("source").parquet(s"$dir/t")
    val before = TableIO.partitionValues(spark, s"$dir/t", "source").get
    val victim = before.head
    TableIO.deletePartitions(spark, s"$dir/t", "source", Seq(victim))
    val after = TableIO.partitionValues(spark, s"$dir/t", "source").get
    assert(after.toSet === before.toSet - victim)
  }

  test("partitionValues reads hive dirs; None for unpartitioned") {
    val dir = tmpDir("pv")
    SequenceGen.sequences(spark, 300)
      .write.partitionBy("source").parquet(s"$dir/part")
    SequenceGen.sequences(spark, 50).write.parquet(s"$dir/flat")
    val vals = TableIO.partitionValues(spark, s"$dir/part", "source")
    assert(vals.isDefined)
    assert(vals.get.toSet.subsetOf(
      (SequenceGen.sources :+ SequenceGen.unknownSource).toSet))
    assert(TableIO.partitionValues(spark, s"$dir/flat", "source").isEmpty)
    assert(TableIO.partitionValues(spark, s"$dir/nope", "source").isEmpty)
  }

  test("readIfExists is None for a missing path and for the bare " +
      "directory a zero-row partitioned write leaves") {
    val dir = tmpDir("rie")
    assert(TableIO.readIfExists(spark, s"$dir/nope").isEmpty)
    val empty = SequenceGen.sequences(spark, 10).toDF().limit(0)
      .withColumn("batch_id", lit(0L))
    TableIO.writePartitioned(empty, s"$dir/empty", partitionCol = "batch_id",
      recluster = false)
    assert(new java.io.File(s"$dir/empty").isDirectory)
    assert(TableIO.readIfExists(spark, s"$dir/empty").isEmpty)
    TableIO.writePartitioned(
      SequenceGen.sequences(spark, 10).toDF().withColumn("batch_id", lit(0L)),
      s"$dir/empty", partitionCol = "batch_id", recluster = false)
    assert(TableIO.readIfExists(spark, s"$dir/empty").map(_.count()) ===
      Some(10L))
  }

  test("deletePartitions + partitionValues handle Spark-escaped values " +
      "(space, '#', '+'; ADVICE r02: URL encoding targeted 'not+provided')") {
    val dir = tmpDir("esc")
    val rows = Seq(
      ("a", "not provided"), // the manifest fill value — space stays literal
      ("b", "x#y"),          // '#' is %23-escaped by Spark
      ("c", "p+q"),          // '+' is LITERAL in hive paths (URL trap)
      ("d", "plain"))
    rows.toDF("doc_id", "source")
      .write.partitionBy("source").parquet(s"$dir/t")

    val vals = TableIO.partitionValues(spark, s"$dir/t", "source").get
    assert(vals.toSet === rows.map(_._2).toSet) // decoded round-trip

    TableIO.deletePartitions(spark, s"$dir/t", "source",
      Seq("not provided", "x#y", "p+q"))
    val after = TableIO.partitionValues(spark, s"$dir/t", "source").get
    assert(after === Seq("plain"))
  }

  test("snapshotId is stable for identical data, changes with data") {
    val dir = tmpDir("snap")
    SequenceGen.sequences(spark, 100).write.parquet(s"$dir/t")
    val s1 = TableIO.snapshotId(spark, s"$dir/t")
    val s2 = TableIO.snapshotId(spark, s"$dir/t")
    assert(s1 === s2)
    Seq(graft.model.Sequence("D999", Array(1), 1, "x")).toDS()
      .write.mode("append").parquet(s"$dir/t")
    assert(TableIO.snapshotId(spark, s"$dir/t") !== s1)
  }

  test("bucketed snapshot layout: the cross-snapshot equality plan runs " +
      "with zero shuffle exchanges when both sides share the bucket spec") {
    val dir = tmpDir("bucketed")
    val n = 200
    def snap(mutate: Boolean) =
      (0 until n).map { i =>
        val toks = if (mutate && i % 50 == 0) Array(9, 9, 9)
          else Array(i, i + 1, i + 2)
        graft.model.Sequence(f"D$i%05d", toks, toks.length,
          if (i % 2 == 0) "alpha" else "beta")
      }.toDS()
    TableIOSpec.writeBucketed(snap(mutate = false).toDF(),
      "bt_old", "doc_id", 8, Some(s"$dir/old"))
    TableIOSpec.writeBucketed(snap(mutate = true).toDF(),
      "bt_new", "doc_id", 8, Some(s"$dir/new"))
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path a 10^12-row side would take (broadcast
      // would mask the exchange question this test pins)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val rule = graft.rules.Rules.withSnapshotEquality.snapshotRules.head
      val vios = graft.rules.RuleEngine.snapshotViolations(
        spark.table("bt_new"), spark.table("bt_old"), rule)
      val rows = vios.collect()
      // 4 mutated docs => 4 mismatch violations
      assert(rows.length === 4)
      assert(rows.forall(_.observed.contains(
        graft.operators.SnapshotDiff.StatusMismatch)))
      val plan = vios.queryExecution.executedPlan.toString
      // per-key aggregation on BOTH sides AND the equality join all ride
      // the bucket layout: no exchange anywhere in the physical plan
      // (broadcast is disabled above, so any "Exchange" would be a shuffle)
      assert(!plan.contains("Exchange"),
        s"bucketed snapshot-equality plan must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bt_old")
      spark.sql("DROP TABLE IF EXISTS bt_new")
    }
  }
}

object TableIOSpec {
  /** Bucketed table write — the co-located-join layout for keyed passes
    * at the 10^12-row shape. A table bucketed by `doc_id` gives every
    * keyed consumer hash-clustered input: per-key aggregation (the
    * snapshot-equality fingerprint pass), the uniqueness key count, and
    * cross-snapshot joins all run with ZERO exchanges when both sides
    * share the bucket spec (the bucketed-layout test pins this on the
    * real snapshot-equality plan). This is the Parquet stand-in for
    * Iceberg's bucket partition transform; bucket metadata lives in the
    * session catalog, so the write goes through `saveAsTable` (with an
    * explicit `path` the table is external — the files outlive the
    * catalog entry). Sorted within buckets so merge joins skip their sort
    * where Spark can use it. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      nBuckets: Int,
      path: Option[String] = None): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}
