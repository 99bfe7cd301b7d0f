package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.shims

/** Bucketed-table copies of the fact tables, co-bucketed on the join key.
  *
  * Bucketing is THE pre-shuffle for a 100 TB deployment: both fact sides
  * written once with `bucketBy(n, key)` + `sortBy(key)` join forever
  * after with NO exchange and NO sort — the scan itself satisfies the
  * sort-merge join's distribution and ordering requirements. At scale
  * that converts the recurring terabyte exchange of every
  * lineitem-orders join into a one-time layout cost at ingest.
  * ScaleMechanicsSpec proves the mechanics on throwaway tables; the
  * registered `join_multiway_revenue_bucketed` query (RelationalQueries)
  * runs the real 5-way revenue join through these copies and is
  * plan-asserted shuffle-free on the orderkey side.
  *
  * Copies are written once per (session, source dir) into the session's
  * warehouse under sf-suffixed table names; 16 buckets is plenty for the
  * local SFs (a cluster ingest would size buckets to ~executor count,
  * but the no-exchange plan shape is bucket-count-independent as long as
  * both sides agree).
  */
object Bucketed {

  private val Buckets = 16

  /** (lineitem, orders) bucketed+sorted on their orderkey.
    *
    * Table names carry a per-process AND per-session nonce (pid and
    * session UUID): the copies are throwaway layout artifacts, and
    * concurrent JVMs sharing one spark-warehouse (two bench runs
    * overlapping) must never contend on the same DROP +
    * directory-delete + CTAS sequence — that race is not atomic and
    * errored a bench run in round 11. Distinct names
    * make each writer's sequence private; stale copies from DEAD
    * processes are swept opportunistically (liveness-checked, so a
    * concurrent live JVM's tables are never touched). */
  def lineitemOrders(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memo.value(s, s"bucketed_lineitem_orders:$d") {
      val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
      val nonce = s"p${ProcessHandle.current().pid()}" +
        s"_s${shims.sessionUUID(s).replace("-", "")}"
      val lTab = s"graft_lineitem_bkt${sfx}_$nonce"
      val oTab = s"graft_orders_bkt${sfx}_$nonce"
      // a crashed run of THIS process identity may have left the managed
      // location on disk while this session's in-memory catalog has no
      // such table — Spark then refuses the CTAS with
      // LOCATION_ALREADY_EXISTS, so clear both the catalog entry and any
      // stale directory first
      def reset(tab: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $tab")
        val wh = s.sessionState.conf.warehousePath
        val p = new org.apache.hadoop.fs.Path(s"$wh/$tab")
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      sweepDeadCopies(s)
      reset(lTab)
      reset(oTab)
      Tables.lineitem(s, d).write.format("parquet")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lTab)
      Tables.orders(s, d).write.format("parquet")
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(oTab)
      (s.table(lTab), s.table(oTab))
    }

  private val NoncedDir =
    """graft_(?:lineitem|orders)_bkt.*_p(\d+)_s[0-9a-f]+""".r

  /** Delete warehouse directories of nonced bucketed copies whose owning
    * process is no longer alive — bounded garbage instead of unbounded
    * accumulation across bench JVMs, without ever racing a live one. */
  private def sweepDeadCopies(s: SparkSession): Unit = {
    val wh = new org.apache.hadoop.fs.Path(s.sessionState.conf.warehousePath)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
      st.getPath.getName match {
        case NoncedDir(pid)
            if pid.toLong != ProcessHandle.current().pid() &&
              !ProcessHandle.of(pid.toLong).isPresent =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }
}
