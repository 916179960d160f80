package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CacheRegistry
import graft.queries.QueryShared

/** The entry points' shared plumbing: the one session factory, the
  * bench's choice of which substrates to fill, and the cache lifetimes
  * the harnesses rely on between queries.
  */
class EntryPointsSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  test("the test session runs the factory's SQL conf; only master and width differ") {
    val conf = Sessions.settings.toMap
    for (k <- Seq("spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.adaptive.enabled",
        "spark.sql.codegen.cache.maxEntries",
        "spark.cleaner.referenceTracking.cleanCheckpoints"))
      assert(conf.contains(k), s"the factory does not set $k")
    conf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"test session's $k")
    }
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("Bench fills only the substrates its selected queries read") {
    def names(only: Option[Set[String]]) =
      QueryShared.substratesFor(only).map(_.name)
    assert(names(Some(Set("q_bm25", "q_tfidf"))).isEmpty)
    assert(names(Some(Set("q_kmeans"))) == Seq("codebook"))
    assert(names(Some(Set("q_pagerank", "q_bm25"))) == Seq("span_edges"))
    assert(names(None) == QueryShared.substrates.map(_.name))
    assert(names(None).size == 3)
    // a declared reader that is not a query would never trigger its fill
    val unknown = QueryShared.substrates.flatMap(_.users)
      .filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"substrate users that are not queries: $unknown")
  }

  private def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE
  private def frame(n: Int) = spark.range(90001 + n).toDF("scoped_probe")

  test("CacheRegistry.scoped frees what it tracked, even across a session-wide release") {
    CacheRegistry.release(spark)
    val sibling = CacheRegistry.persist(frame(1))
    val a = CacheRegistry.scoped(spark)(CacheRegistry.persist(frame(2)))
    assert(!cached(a), "the scope should free the frame tracked in it")
    assert(cached(sibling), "a frame tracked before the scope stays cached")
    CacheRegistry.release(spark)
    assert(!cached(sibling), "release frees the sibling")

    // a queue-position mark would sit above 0 here; the release empties
    // the queue, so B lands below the mark and would leak
    val before = CacheRegistry.persist(frame(3))
    val b = CacheRegistry.scoped(spark) {
      CacheRegistry.release(spark)
      CacheRegistry.persist(frame(4))
    }
    assert(!cached(before))
    assert(!cached(b), "a frame tracked after a release inside the scope leaked")
  }

  test("a pinned substrate survives release and clearCache as the same readable frame") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val sub = QueryShared.Substrate("entry_points_probe", Set.empty, { (s, _) =>
      builds.incrementAndGet()
      CacheRegistry.cut(s.range(5).toDF("n"))
    })
    val first = sub(spark, "probe-dir")
    CacheRegistry.release(spark)
    spark.catalog.clearCache()
    val again = sub(spark, "probe-dir")
    assert(again eq first)
    assert(builds.get == 1)
    assert(again.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) == 10L)
  }
}
