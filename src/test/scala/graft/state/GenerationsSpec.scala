package graft.state

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generations with the drift monitors' summing fold over a small
  * (source, bin, count) table: reads see only the max-hw base plus the
  * generations above it, so crash debris never changes the live sum. */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  private type Rows = Seq[(String, Int, Long)]

  private val sumFold: DataFrame => DataFrame =
    _.groupBy("source", "bin").agg(sum("count").as("count"))

  private val batches: Seq[Rows] = Seq(
    Seq(("a", 0, 3L), ("a", 1, 1L), ("b", 0, 2L)),
    Seq(("a", 0, 5L), ("b", 2, 7L)),
    Seq(("b", 0, 1L), ("c", 4, 9L)),
    Seq(("a", 1, 4L), ("c", 4, 1L)),
    Seq(("a", 0, 2L)),
    Seq(("b", 2, 6L), ("c", 5, 8L)))

  private def store(name: String) = {
    val dir = tmpDir(name)
    Generations.Store(s"$dir/state", s"$dir/base")
  }

  private def append(st: Generations.Store, id: Int, rows: Rows): Unit =
    Generations.append(rows.toDF("source", "bin", "count"), st, id.toLong)

  private def expected(ids: Range): Map[(String, Int), Long] =
    ids.flatMap(batches).groupBy(r => (r._1, r._2))
      .map { case (k, rs) => k -> rs.map(_._3).sum }

  private def liveSum(
      st: Generations.Store, below: Long): Map[(String, Int), Long] =
    Generations.live(spark, st, below).fold(Map.empty[(String, Int), Long])(
      sumFold(_).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap)

  private def baseHws(st: Generations.Store): Seq[String] =
    graft.sources.TableIO.partitionValues(spark, st.base, "hw")
      .getOrElse(Nil)

  /** A base directory written behind the store's back (debris). */
  private def writeBase(st: Generations.Store, hw: Long, rows: DataFrame) =
    rows.withColumn("hw", lit(hw)).write.mode("append").partitionBy("hw")
      .parquet(st.base)

  test("live ignores an older base dir and resurrected generations at " +
      "or below the base's hw") {
    val st = store("gen_live")
    (0 to 2).foreach(i => append(st, i, batches(i)))
    assert(Generations.compact(spark, st, below = 3)(sumFold))
    assert(baseHws(st) === Seq("2"))
    assert(Generations.ids(spark, st).isEmpty)
    append(st, 3, batches(3))

    // debris: an older base with wrong counts, and generations 1 and 2
    // back on disk below / at hw
    writeBase(st, 0L, Seq(("a", 0, 1000L)).toDF("source", "bin", "count"))
    append(st, 1, batches(1))
    append(st, 2, Seq(("z", 9, 1000L)))
    assert(Generations.ids(spark, st) === Seq(1L, 2L, 3L))

    assert(liveSum(st, below = 4) === expected(0 to 3))
    // the running batch's own generation is not live below itself
    assert(liveSum(st, below = 3) === expected(0 to 2))
  }

  test("compact is a no-op with fewer than 2 live generations") {
    val st = store("gen_noop")
    append(st, 0, batches(0))
    assert(!Generations.compact(spark, st, below = 1)(sumFold))
    append(st, 1, batches(1))
    // generation 1 is the running batch: only generation 0 is final
    assert(!Generations.compact(spark, st, below = 1)(sumFold))
    assert(baseHws(st).isEmpty)
    assert(Generations.ids(spark, st) === Seq(0L, 1L))

    assert(Generations.compact(spark, st, below = 2)(sumFold))
    assert(baseHws(st) === Seq("1"))
    append(st, 2, batches(2))
    append(st, 3, batches(3))
    // one live generation (2) below the running batch 3: nothing to fold
    assert(!Generations.compact(spark, st, below = 3)(sumFold))
    assert(baseHws(st) === Seq("1"))
    assert(Generations.ids(spark, st) === Seq(2L, 3L))
    assert(liveSum(st, below = 4) === expected(0 to 3))
  }

  test("re-running compact after a crash between the base write and the " +
      "deletes leaves the live sum unchanged") {
    val st = store("gen_crash")
    (0 to 1).foreach(i => append(st, i, batches(i)))
    assert(Generations.compact(spark, st, below = 2)(sumFold))
    (2 to 3).foreach(i => append(st, i, batches(i)))
    val before = liveSum(st, below = 4)
    assert(before === expected(0 to 3))

    // the crash: compaction below 4 wrote base hw=3, then died before
    // deleting generations 2 and 3 and the old base hw=1
    writeBase(st, 3L, sumFold(Generations.live(spark, st, 4L).get))
    assert(baseHws(st) === Seq("1", "3"))
    assert(Generations.ids(spark, st) === Seq(2L, 3L))
    assert(liveSum(st, below = 4) === before)

    // the replayed batch 4 re-runs the same compaction
    append(st, 4, batches(4))
    assert(!Generations.compact(spark, st, below = 4)(sumFold))
    assert(liveSum(st, below = 4) === before)
    assert(liveSum(st, below = 5) === expected(0 to 4))

    // the next compaction that folds anything also drops the debris
    append(st, 5, batches(5))
    assert(Generations.compact(spark, st, below = 6)(sumFold))
    assert(baseHws(st) === Seq("5"))
    assert(Generations.ids(spark, st).isEmpty)
    assert(liveSum(st, below = 6) === expected(0 to 5))
  }
}
