package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SessionMemo's owner rule, nested builds and storage forms, and the same
  * owner rule in CacheRegistry. Each test that stops a session starts the
  * next one through [[session]], so the suite always ends on a live one.
  */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Stop the live session and start a new one (a new SparkContext). */
  private def restart(): Unit = {
    val old = spark.sparkContext
    spark.stop()
    spark = session()
    assert(spark.sparkContext ne old)
  }

  override def beforeAll(): Unit = spark = session()
  override def afterAll(): Unit = spark.stop()

  test("a second call in one context returns the same instance without a rebuild") {
    var builds = 0
    def get(): DataFrame = SessionMemo(spark, "same", "d") {
      builds += 1
      spark.range(3).toDF()
    }
    val a = get()
    val b = get()
    assert(a eq b)
    assert(builds === 1)
  }

  test("a new context rebuilds the same key and the old context's entries are gone") {
    var builds = 0
    def get(): Long = SessionMemo(spark, "owner", "d") { builds += 1; builds.toLong }
    assert(get() === 1L)
    val old = SessionMemo.persisted(spark, "owner_frame", "d")(spark.range(2).toDF())
    assert(SessionMemo.size >= 2)
    restart()
    assert(get() === 2L)
    assert(builds === 2)
    assert(SessionMemo.size === 1)
    // Spark keeps the stopped context's CacheManager reachable: the dropped
    // frame must have left it too
    assert(old.storageLevel === StorageLevel.NONE)
  }

  test("a nested build reading another memo does not throw and caches both") {
    // "Aa" and "BB" share a String hash, so the two keys land in the same
    // bucket of any hash map the store could use: the case where a store
    // that builds under a bucket lock throws "Recursive update"
    var inner, outer = 0
    def b(): Int = SessionMemo(spark, "Aa", "d") { inner += 1; 20 }
    def a(): Int = SessionMemo(spark, "BB", "d") { outer += 1; b() + 1 }
    assert(a() === 21)
    assert(a() === 21 && b() === 20)
    assert((outer, inner) === ((1, 1)))
  }

  test("a persisted entry unpersisted elsewhere is persisted again on the next call") {
    def get(): DataFrame = SessionMemo.persisted(spark, "persisted", "d")(
      spark.range(10).toDF("id"))
    val df = get()
    assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
    df.unpersist(blocking = true)
    assert(df.storageLevel === StorageLevel.NONE)
    val again = get()
    assert(again eq df)
    assert(again.storageLevel === StorageLevel.MEMORY_AND_DISK)
    df.unpersist(blocking = true)
  }

  test("a non-persisted entry keeps StorageLevel.NONE") {
    def get(): DataFrame = SessionMemo(spark, "plain", "d")(spark.range(5).toDF("id"))
    assert(get().storageLevel === StorageLevel.NONE)
    assert(get().storageLevel === StorageLevel.NONE)
  }

  test("CacheRegistry holds no entry from a stopped context after a register in a new one") {
    val old = (1 to 3).map(n => graft.ops.CacheRegistry.register(
      spark.range(n.toLong).toDF("id").persist(StorageLevel.MEMORY_AND_DISK)))
    assert(graft.ops.CacheRegistry.size >= 3)
    restart()
    val live = graft.ops.CacheRegistry.register(
      spark.range(7).toDF("id").persist(StorageLevel.MEMORY_AND_DISK))
    assert(graft.ops.CacheRegistry.size === 1)
    assert(old.forall(_.storageLevel == StorageLevel.NONE))
    live.unpersist(blocking = true)
  }
}
