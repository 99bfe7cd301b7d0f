package graft.tools

import org.apache.spark.sql.functions._

/** sf-proportional EMBEDDINGS ladder fixtures (r10 verdict #7): the
  * driver's parquet grows embeddings only 500 → 500 → 2,000 across the
  * three SFs (one 4× step), so the embeddings family's three-SF scale
  * fits leaned on synthetic in-memory ladders. This writes three
  * repo-local rung dirs with 500 / 5,000 / 50,000 vectors — same
  * schema (vec_id BIGINT, embedding ARRAY<FLOAT> dim 64, label INT
  * 0..9), same label-clustered geometry (per-label center + per-
  * coordinate noise, all closed-form integer arithmetic, seed-free
  * deterministic) — and symlinks the driver's other nine tables beside
  * them, so graft.Verify + the DuckDB oracle AND graft.Bench run
  * UNCHANGED against each rung: oracle-checked queries scale-fit on
  * real parquet rungs instead of ladders. /root/testdata is read-only
  * by contract — these rungs live in-repo by design.
  *
  *   sbt "runMain graft.tools.GenEmbLadder"
  *   SPARK_GRAFT_SF_DIR=data/emb_sf/emb50k SPARK_GRAFT_ONLY=ann_,embed_ \
  *     sbt "runMain graft.Bench"
  */
object GenEmbLadder {

  /** (rung dir name, vector count, driver sf dir whose other tables the
    * rung borrows). The first three are the committed in-repo rungs;
    * emb500k (~130 MB) is generated on demand into a caller-chosen
    * root (r12 directive 6: one more decade for the serve paths) —
    * select it explicitly:
    *
    *   sbt "runMain graft.tools.GenEmbLadder /tmp/graft_emb_sf emb500k"
    */
  val rungs: Seq[(String, Long, String)] = Seq(
    ("emb500", 500L, "/root/testdata/sf0.001"),
    ("emb5k", 5000L, "/root/testdata/sf0.01"),
    ("emb50k", 50000L, "/root/testdata/sf0.1"),
    ("emb500k", 500000L, "/root/testdata/sf0.1"),
    // the DEEP rung (r14 verdict #5): the serve-path defects the
    // ladder exists to catch are invisible below ~1M vectors (the
    // superlinear chain serve fit <= 0.2 on the 40-query axis at
    // 500k) — the committed ladder needs the rung that finds them.
    // ~520 MB, on-demand like emb500k.
    ("emb2m", 2000000L, "/root/testdata/sf0.1"))

  /** Rungs generated when no explicit selection is passed — emb500k is
    * opt-in so a default regeneration never lands a 130 MB fixture in
    * the committed data/ tree. */
  val defaultRungs: Set[String] = Set("emb500", "emb5k", "emb50k")

  val otherTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents")

  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "data/emb_sf"
    val selected: Set[String] =
      if (args.length > 1) args(1).split(',').map(_.trim).toSet
      else defaultRungs
    val spark = graft.GraftSession()

    rungs.filter(r => selected(r._1)).foreach { case (name, n, borrowDir) =>
      val dir = java.nio.file.Paths.get(s"$root/$name")
      java.nio.file.Files.createDirectories(dir)
      // match the DRIVER's measured geometry (unit-norm, near-isotropic:
      // within-label cosine ≈ 0.022, cross ≈ 0.00) — a strongly
      // clustered fixture degenerates the LSH bucket structure (few
      // giant buckets → quadratic bucket self-joins; measured: the
      // first clustered cut serialized ann_lsh_det_topk onto one core
      // for 40+ min at 50k). Per-coordinate: tiny label center (rms
      // ~0.08) + uniform ±1 noise from murmur3 hash(id, j) (fixed
      // seed, generation-time only — the fixture is committed, nothing
      // replays this), then L2-normalize.
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
          expr("transform(raw, x -> CAST(x / nrm AS FLOAT))")
            .as("embedding"),
          col("label"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/_tmp_embeddings")
      // the driver's tables are single parquet FILES (DuckDB's view
      // pattern '<dir>/<t>.parquet' expects a file) — promote the one
      // part file and drop Spark's directory wrapper
      val tmp = dir.resolve("_tmp_embeddings")
      val part = java.nio.file.Files.list(tmp).iterator()
      val partFile = Iterator.continually(part)
        .takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val target = dir.resolve("embeddings.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(partFile, target)
      java.nio.file.Files.list(tmp).iterator().forEachRemaining(p =>
        java.nio.file.Files.delete(p))
      java.nio.file.Files.delete(tmp)
      otherTables.foreach { t =>
        val link = dir.resolve(s"$t.parquet")
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$borrowDir/$t.parquet"))
      }
      println(s"[gen-emb-ladder] $name: $n vectors -> $dir")
    }
    spark.stop()
  }
}
