package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Versioned dataset store — the capability surface of SDFS
  * (server/sdfs.go: put/get/get-versions/delete/ls, with a file =
  * named sequence of timestamped versions, sdfs.go:24,276-283) rebuilt on
  * a distributed filesystem:
  *
  *    <root>/<name>/version=<v>/  ... parquet files
  *
  * Replication (W=4 quorum, FNV placement, re-replication on membership
  * change — sdfs.go:32-138,383-516) is delegated wholesale to the
  * underlying DFS, per SURVEY.md §2.6/§4.2: at 100 TB that is HDFS/S3's
  * job, not the query engine's. Listing goes through the Hadoop FileSystem
  * API so the store works unchanged on hdfs:// or s3a:// URIs.
  *
  * Versions are caller-supplied longs (streaming uses the micro-batch id;
  * batch `put` auto-increments) — deterministic across restarts, unlike
  * the reference's wall-clock timestamps (SURVEY.md §7.5).
  */
final case class VersionedStore(root: String) {

  /** `file:` roots go through [[LocalFs]] (here and in `putVersion`'s
    * write), whichever session the caller holds. */
  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(LocalFs.conf(spark.sparkContext.hadoopConfiguration))

  private def namePath(name: String) = new Path(s"$root/$name")
  private def versionPath(name: String, v: Long) =
    new Path(s"$root/$name/version=$v")
  private def markerPath(name: String, v: Long) =
    new Path(versionPath(name, v), VersionedStore.CommitMarker)

  /** All COMMITTED versions of `name`, ascending. Visibility is the
    * per-version marker file written after the parquet job commits —
    * `df.write` creates the version directory (and a replay deletes +
    * rewrites it) before part files land, so directory existence alone
    * would expose in-flight versions to concurrent readers. A marker is
    * also the portable choice: it needs no atomic rename, so the
    * contract holds unchanged on object stores (s3a://) where rename is
    * a copy. */
  def versions(spark: SparkSession, name: String): Seq[Long] = {
    val f = fs(spark)
    val p = namePath(name)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("version=") =>
        s.stripPrefix("version=").toLong }
      .filter(v => f.exists(markerPath(name, v)))
      .sorted
  }

  /** Write `df` as an explicit version (idempotent per version — a replayed
    * micro-batch overwrites its own version, keeping the sink exactly-once).
    * Two-phase: the overwrite first drops the old directory (and with it
    * any previous marker, making the version invisible for the rewrite
    * window), then the marker is created only after the parquet job
    * commits — a reader can never list a version whose data is partial. */
  def putVersion(name: String, version: Long, df: DataFrame): Unit = {
    // write options reach the committer and the write tasks' Hadoop conf
    df.write.options(LocalFs.routing).mode("overwrite")
      .parquet(versionPath(name, version).toString)
    fs(df.sparkSession)
      .create(markerPath(name, version), true).close()
  }

  /** Append a new auto-numbered version (the SDFS `put`, sdfs.go:32-52). */
  def put(spark: SparkSession, name: String, df: DataFrame): Long = {
    val v = versions(spark, name).lastOption.fold(0L)(_ + 1)
    putVersion(name, v, df)
    v
  }

  /** Read the newest version (the SDFS `get`, R=1 newest-wins,
    * sdfs.go:141-175). */
  def get(spark: SparkSession, name: String): DataFrame = {
    val vs = versions(spark, name)
    require(vs.nonEmpty, s"no versions of $name under $root")
    Tables.read(spark, versionPath(name, vs.last).toString)
  }

  /** Read one explicit version (the pinned-version `get` a reader uses
    * to stay on a consistent snapshot while newer versions land). Only
    * committed versions are readable — an in-flight write's directory
    * is not a version yet. */
  def getVersion(spark: SparkSession, name: String, v: Long): DataFrame = {
    require(fs(spark).exists(markerPath(name, v)),
      s"no committed version $v of $name under $root")
    Tables.read(spark, versionPath(name, v).toString)
  }

  /** Delete one version (retention pruning — keep the newest K index
    * snapshots, drop the rest; the SDFS delete applied per-version). */
  def deleteVersion(spark: SparkSession, name: String, v: Long): Boolean =
    fs(spark).delete(versionPath(name, v), true)

  /** Read the newest `n` versions, each row tagged with its version —
    * the SDFS `get-versions` (sdfs.go:178-207: newest-first, clamped,
    * version-prefixed). */
  def getVersions(spark: SparkSession, name: String, n: Int): DataFrame = {
    val vs = versions(spark, name).takeRight(n)
    require(vs.nonEmpty, s"no versions of $name under $root")
    vs.map { v =>
      Tables.read(spark, versionPath(name, v).toString)
        .withColumn("version", lit(v))
    }.reduce(_ unionByName _)
  }

  /** Delete all versions (the SDFS `delete`, sdfs.go:210-240). */
  def delete(spark: SparkSession, name: String): Boolean =
    fs(spark).delete(namePath(name), true)

  /** All dataset names in the store (the SDFS `ls`/`store`,
    * sdfs.go:415-419). */
  def ls(spark: SparkSession): Seq[String] = {
    val f = fs(spark)
    val p = new Path(root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }
}

object VersionedStore {
  /** Per-version commit marker. Underscore-prefixed so Spark's file
    * index treats it as hidden and parquet reads of the version
    * directory are unaffected. */
  val CommitMarker = "_GRAFT_COMMITTED"
}
