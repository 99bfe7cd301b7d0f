package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder rung dirs. A rung is a dir holding the driver's ten
  * tables: the scaled ones written as single parquet FILES (DuckDB's
  * view pattern '<dir>/<t>.parquet' expects a file), every other table
  * a symlink to the source sf dir. graft.Verify + the DuckDB oracle
  * AND graft.Bench run UNCHANGED against each rung, so a ladder point
  * is the timing of a registered, oracle-checked query on data the
  * oracle reads. /root/testdata is read-only by contract — the three
  * committed embedding rungs live in-repo under data/emb_sf; every
  * other rung is generated on demand into a caller-chosen root.
  *
  * Rung kinds:
  *  - embeddings: closed-form vectors (see [[embeddings]]);
  *  - documents ×n, events ×n, facts (orders + lineitem) ×n: n id-
  *    shifted copies of the source table, copy 0 verbatim (see
  *    [[documents]], [[events]], [[facts]]).
  *
  * The ladder, end to end — rungs, one Bench per (query, rung), a fit:
  *
  *   sbt "runMain graft.tools.GenRungs"    # the committed emb rungs
  *   sbt "runMain graft.tools.GenRungs /tmp/rungs docs50k,docs500k"
  *   SPARK_GRAFT_ONLY=dedup_winnowing SPARK_GRAFT_SF_DIR=/tmp/rungs/docs50k \
  *     SPARK_GRAFT_BENCH_OUT=/tmp/winnowing_docs50k.json \
  *     sbt "runMain graft.Bench"           # likewise per rung
  *   python3 tools/scale_fit.py /tmp/winnowing_*.json /tmp/SCALE.md
  *
  * Every call rewrites the rungs it is asked for.
  */
object GenRungs {

  /** A rung: its dir name, the sf dir whose tables it scales and whose
    * other tables it links, and the scaled tables built from that dir. */
  final case class Rung(name: String, src: String,
                        scaled: SparkSession => Seq[(String, DataFrame)])

  private val sf0001 = "/root/testdata/sf0.001"
  private val sf001 = "/root/testdata/sf0.01"
  private val sf01 = "/root/testdata/sf0.1"

  /** Every named rung. emb500 / emb5k / emb50k are the committed in-repo
    * rungs; emb500k (~130 MB, one more decade for the serve paths) and
    * emb2m (~520 MB: the serve-path defects the ladder exists to catch
    * are invisible below ~1M vectors) are on demand. docs5k (sf0.01
    * ×10) is small enough for the O(n²) oracle checks; docs50k,
    * docs500k, events1m and facts6m are the decades above sf0.1. */
  val rungs: Seq[Rung] = Seq(
    embRung("emb500", sf0001, 500L),
    embRung("emb5k", sf001, 5000L),
    embRung("emb50k", sf01, 50000L),
    embRung("emb500k", sf01, 500000L),
    embRung("emb2m", sf01, 2000000L),
    docsRung("docs5k", sf001, 10),
    docsRung("docs50k", sf01, 10),
    docsRung("docs500k", sf01, 100),
    eventsRung("events1m", sf01, 10),
    factsRung("facts6m", sf01, 10))

  /** Rungs generated when no explicit selection is passed — the larger
    * rungs are opt-in so a default regeneration never lands a 100 MB+
    * fixture in the committed data/ tree. */
  val defaultRungs: Set[String] = Set("emb500", "emb5k", "emb50k")

  def embRung(name: String, src: String, n: Long): Rung =
    Rung(name, src, s => Seq("embeddings" -> embeddings(s, n)))

  def docsRung(name: String, src: String, n: Int): Rung =
    Rung(name, src, s =>
      Seq("documents" -> documents(s.read.parquet(s"$src/documents.parquet"), n)))

  def eventsRung(name: String, src: String, n: Int): Rung =
    Rung(name, src, s =>
      Seq("events" -> events(s.read.parquet(s"$src/events.parquet"), n)))

  /** Facts ×n: transaction history grows while every dimension table is
    * linked, not copied (dims do not grow 10× when facts do; that is
    * the realistic 100 TB shape AND what keeps the broadcast sides
    * broadcastable). */
  def factsRung(name: String, src: String, n: Int): Rung =
    Rung(name, src, s => Seq(
      "orders" -> facts(s.read.parquet(s"$src/orders.parquet"), "o_orderkey", n),
      "lineitem" -> facts(s.read.parquet(s"$src/lineitem.parquet"), "l_orderkey", n)))

  /** n label-clustered unit vectors: vec_id BIGINT, embedding
    * ARRAY<FLOAT> dim 64, label INT 0..9. Matches the DRIVER's measured
    * geometry (unit-norm, near-isotropic: within-label cosine ≈ 0.022,
    * cross ≈ 0.00) — a strongly clustered fixture degenerates the LSH
    * bucket structure (few giant buckets → quadratic bucket self-joins;
    * measured: the first clustered cut serialized ann_lsh_det_topk onto
    * one core for 40+ min at 50k). Per-coordinate: tiny label center
    * (rms ~0.08) + uniform ±1 noise from murmur3 hash(id, j) (Spark's
    * fixed seed, so a regenerated rung is row-identical to the committed
    * one), then L2-normalize. */
  def embeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), j ->
                  ((id % 10) * 73 + j * 37) % 21 / 75.0 - 0.14 +
                  (pmod(hash(id, j), 2001) - 1000) / 1000.0)""")
          .as("raw"),
        (col("id") % 10).cast("int").as("label"))
      .withColumn("nrm",
        expr("sqrt(aggregate(raw, 0D, (a, x) -> a + x * x))"))
      .select(col("vec_id"),
        expr("transform(raw, x -> CAST(x / nrm AS FLOAT))").as("embedding"),
        col("label"))

  /** n copies of `base` in ONE plan (an explode over 0..n-1, not an
    * n-way union): copy i > 0 has the columns `shift(i)` names
    * rewritten, copy 0 stays verbatim, column order is `base`'s. */
  private def copies(base: DataFrame, n: Int)(
      shift: Column => Map[String, Column]): DataFrame = {
    val i = col("copy")
    val rewrite = shift(i)
    base.withColumn("copy", explode(sequence(lit(0), lit(n - 1))))
      .select(base.columns.map(c => rewrite.get(c).fold(col(c))(e =>
        when(i === 0, col(c)).otherwise(e).as(c))).toIndexedSeq: _*)
  }

  /** Suffix-disjoint document copies: copy i > 0 gets doc_id + i·100M
    * and every token suffixed `_i`, so cross-copy shingle vocabularies
    * are disjoint and the near-dup pair structure replicates per copy
    * (output grows ×n, like a real corpus) instead of every doc gaining
    * n-1 exact twins. The offset is 100M, NOT 10M: pipeline_media_prep
    * internally offsets its PNG copy ids by 10M, so a 10M offset would
    * collide copy i's PNG ids with copy i+1's PGM ids and break media_id
    * uniqueness. n_chars, where present, follows the suffixed text. */
  def documents(base: DataFrame, n: Int): DataFrame = copies(base, n) { i =>
    val text = array_join(transform(split(col("text"), "\\s+"),
      t => concat(t, lit("_"), i.cast("string"))), " ")
    Map("doc_id" -> (col("doc_id") + i * 100000000L), "text" -> text,
      "n_chars" -> length(text).cast("long"))
  }

  /** Event copies in disjoint user-id spaces: key cardinality grows ×n
    * at constant per-key history, the 100 TB growth mode. */
  def events(base: DataFrame, n: Int): DataFrame = copies(base, n) { i =>
    Map("event_id" -> (col("event_id") + i * 1000000000L),
      "user_id" -> (col("user_id") + i * 1000000000L))
  }

  /** Fact copies with the order key shifted by i·10⁹. */
  def facts(base: DataFrame, key: String, n: Int): DataFrame =
    copies(base, n)(i => Map(key -> (col(key) + i * 1000000000L)))

  /** Write `rung` under `root`: each scaled table as one parquet file,
    * every other driver table a symlink into the rung's source dir. */
  def write(spark: SparkSession, root: String, rung: Rung): Path = {
    val dir = Paths.get(root, rung.name)
    Files.createDirectories(dir)
    val scaled = rung.scaled(spark)
    scaled.foreach { case (t, df) => writeFile(df, dir, t) }
    graft.core.Tables.names.filterNot(scaled.map(_._1).toSet).foreach { t =>
      val link = dir.resolve(s"$t.parquet")
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, Paths.get(s"${rung.src}/$t.parquet"))
    }
    dir
  }

  /** `df` as the single file `<dir>/<table>.parquet`: Spark writes a
    * one-part dir, the part file is promoted and the wrapper dropped.
    * Row groups are capped at 4 MiB so Spark can split one large file
    * across cores (a reading task per row group at most). */
  private def writeFile(df: DataFrame, dir: Path, table: String): Unit = {
    val tmp = dir.resolve(s"_tmp_$table")
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 4L << 20)
      .parquet(tmp.toString)
    val parts = Files.list(tmp)
    val partFile =
      try parts.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().orElseThrow(() =>
          new IllegalStateException(s"no part file under $tmp"))
      finally parts.close()
    val target = dir.resolve(s"$table.parquet")
    Files.deleteIfExists(target)
    Files.move(partFile, target)
    val rest = Files.list(tmp)
    try rest.forEach(p => Files.delete(p)) finally rest.close()
    Files.delete(tmp)
  }

  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "data/emb_sf"
    val selected: Set[String] =
      if (args.length > 1) args(1).split(',').map(_.trim).toSet
      else defaultRungs
    val unknown = selected -- rungs.map(_.name)
    require(unknown.isEmpty, s"unknown rungs: ${unknown.mkString(", ")} " +
      s"(known: ${rungs.map(_.name).mkString(", ")})")
    val spark = graft.GraftSession()
    rungs.filter(r => selected(r.name)).foreach { r =>
      println(s"[gen-rungs] ${r.name} -> ${write(spark, root, r)}")
    }
    spark.stop()
  }
}
