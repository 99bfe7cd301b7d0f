package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.core.Memo

/** The served-index store is an ordinary memo entry: an LRU eviction or
  * `clearKeys` runs its build again over the same store directory, and
  * every lifecycle query must then serve the same rows as before. */
class AnnStoreRebuildSpec extends SparkSpec {

  private val served = Seq(
    "ann_ivf_served_topk", "ann_ivf_nlist_served_topk",
    "ann_ivf_pinned_topk", "ann_ivf_delta_served_topk",
    "ann_ivf_pq_served_topk", "ann_ivf_pq_delta_served_topk",
    "ann_sq8_served_topk", "ann_sq8_delta_served_topk")

  private def rows(): Map[String, Set[String]] = served.map { q =>
    q -> SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).toSet
  }.toMap

  test("served queries answer the same rows after the store is rebuilt") {
    val first = rows()
    Memo.clearKeys(spark, Set(s"ann_store:$sfDir"))
    val second = rows()
    Memo.keys(spark) should contain(s"ann_store:$sfDir")
    served.foreach { q =>
      withClue(q) {
        second(q) shouldBe first(q)
        first(q) should not be empty
      }
    }
  }
}
