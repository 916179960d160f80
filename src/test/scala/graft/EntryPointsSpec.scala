package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryShared

/** The entry points' shared plumbing: the one session factory, and the
  * bench's choice of which substrates to fill.
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
}
