package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The graph loops' round driver and the truncated frames' release:
  * `Lineage.rddFixpoint` stops at the first RDD round that changes nothing
  * or at its cap; `Lineage.release` frees only a checkpoint frame itself,
  * nothing else.
  */
class LineageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** The RDD behind a frame's checkpoint leaf. */
  private def checkpointRdd(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }.get

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Eight rows with x = 0 and a round x' = min(x + 1, 3), with each
    * row's changed flag: rounds 1–3 change every row, round 4 none.
    */
  private final class RddCounting {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val start: RDD[(Long, Long)] = spark.sparkContext.parallelize(0L until 8L, 2).map(_ -> 0L)
    def round(state: RDD[(Long, Long)], t: Int): RDD[(Long, Long, Boolean)] = {
      seen += t
      state.map { case (id, x) => (id, math.min(x + 1L, 3L), x < 3L) }
    }
    def run(maxRounds: Int): (RDD[(Long, Long)], Boolean) =
      Lineage.rddFixpoint(start, maxRounds)(round)
  }

  private def xs(state: RDD[(Long, Long)]): Set[Long] = state.values.collect().toSet

  test("rddFixpoint stops at the first unchanged round, or after exactly maxRounds") {
    val converging = new RddCounting
    val (fixed, c1) = converging.run(10)
    assert(c1)
    assert(converging.seen.toSeq === Seq(1, 2, 3, 4))
    assert(xs(fixed) === Set(3L))

    // round 3 reaches x = 3 but only round 4 certifies it
    val capped = new RddCounting
    val (last, c2) = capped.run(3)
    assert(!c2)
    assert(capped.seen.toSeq === Seq(1, 2, 3))
    assert(xs(last) === Set(3L))

    val short = new RddCounting
    val (early, c3) = short.run(2)
    assert(!c3)
    assert(short.seen.size === 2)
    assert(xs(early) === Set(2L))
  }

  test("release leaves a persisted frame over a checkpoint and a non-checkpoint state alone") {
    val ck = Lineage.truncate(spark.range(10).select(col("id"), (col("id") * 2L).as("y")))
    // persisted, not yet materialized: it still reads the checkpoint
    val projected = ck.select(col("id"), col("y")).persist()
    val aggregated = ck.groupBy((col("id") % 2L).as("k")).agg(sum(col("y")).as("s")).persist()
    // a frame over a cached frame, not a checkpoint
    val vertices = spark.range(5).select(col("id").as("url")).distinct().persist()
    vertices.count()
    val start = vertices.select(col("url"), lit(1.0).as("rank"))

    val before = persistentIds
    assert(before.contains(checkpointRdd(ck).id))
    Seq(projected, aggregated, start).foreach(Lineage.release)
    assert(persistentIds === before)
    assert(projected.count() === 10L)
    assert(aggregated.count() === 2L)
    assert(ck.count() === 10L)
    assert(start.count() === 5L)
    Seq(projected, aggregated, vertices).foreach(_.unpersist())
  }

  test("a released checkpoint is freed, and reading it again fails loudly") {
    val ck = Lineage.truncate(spark.range(10).toDF("id"))
    val id = checkpointRdd(ck).id
    assert(persistentIds.contains(id))
    Lineage.release(ck)
    assert(!persistentIds.contains(id))
    val err = intercept[Exception](ck.count())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("Checkpoint block")), err)
  }
}
