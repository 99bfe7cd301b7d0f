package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The embed family's d×d fixed-step iterations (Ann.pcaPower and the
  * Richardson steps of Ann.linearProbe) run on the driver as exact Long
  * arithmetic. This spec keeps the previous declarative Spark folds as
  * reference implementations and pins the kernels to them row for row,
  * on ordinary and degenerate clouds, and checks that overflow throws
  * instead of wrapping. */
class EmbedKernelSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding",
      ArrayType(DoubleType)), StructField("y", LongType)))

  private def cloud(rows: Seq[(Long, Seq[Double], Long)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (id, v, y) => Row(id, v, y) }.asJava, schema)
  }

  /** Reference: the Spark fold embed_pca_power ran before the kernel. */
  private def refPcaPower(tri: DataFrame, iters: Int = 6): DataFrame = {
    val t = tri.select(col("dim_a"), col("dim_b"), col("cov_u").as("a"))
    val full = t.select(col("dim_a").as("i"), col("dim_b").as("j"),
        col("a"))
      .unionByName(t.filter(col("dim_a") =!= col("dim_b"))
        .select(col("dim_b").as("i"), col("dim_a").as("j"), col("a")))
      .localCheckpoint()
    val v0 = full.select(col("i").as("dim")).distinct()
      .select(col("dim"), lit(100000L).as("v"))
    val vK = (1 to iters).foldLeft(v0) { (v, _) =>
      val u = full.join(v.select(col("dim").as("jd"), col("v")),
          col("j") === col("jd"))
        .groupBy("i").agg(sum(col("a") * col("v")).as("u"))
        .localCheckpoint(false)
      val scale = u.agg(max(abs(col("u"))).as("m"))
        .select(expr(
          "CAST(greatest((m + 99999) DIV 100000, 1) AS BIGINT)").as("s"))
      u.crossJoin(scale)
        .select(col("i").as("dim"),
          expr("CASE WHEN u < 0 THEN -(CAST(abs(u) AS BIGINT) DIV s) " +
            "ELSE CAST(u AS BIGINT) DIV s END").as("v"))
    }
    vK.select(col("dim").cast("long").as("dim"), col("v")).orderBy("dim")
  }

  /** Reference: the Spark fold Ann.linearProbe ran before the kernel. */
  private def refLinearProbe(embs: DataFrame, iters: Int = 8,
                             covTri: Option[DataFrame] = None): DataFrame = {
    val dims = embs
      .select(col("vec_id"), col("y").cast("long").as("y"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
      .select(col("vec_id"), col("y"), col("dim"),
        floor(col("x") * 1000000.0 + 0.5).cast("long").as("xi"))
    val tri = covTri.getOrElse(
      Ann.covarianceTri(embs, "vec_id", "embedding"))
    val mat = tri.select(col("dim_a").as("i"), col("dim_b").as("j"),
        col("cov_u"))
      .unionByName(tri.filter(col("dim_a") =!= col("dim_b"))
        .select(col("dim_b").as("i"), col("dim_a").as("j"), col("cov_u")))
      .select(col("i"), col("j"),
        expr("CASE WHEN cov_u < 0 THEN -((-cov_u) DIV 100) " +
          "ELSE cov_u DIV 100 END").as("a"))
      .localCheckpoint(false)
    val cvec = dims.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xi") * col("y")).as("sxy"),
        sum(col("xi")).as("sx"),
        sum(col("y")).as("sy"))
      .select(col("dim"),
        floor(col("sxy").cast("double") / col("n")
          - (col("sx").cast("double") / col("n"))
            * (col("sy").cast("double") / col("n"))).cast("long").as("c"))
      .localCheckpoint(false)
    val gersh = mat.groupBy("i").agg(sum(abs(col("a"))).as("rs"))
      .agg(max(col("rs")).as("m"))
      .select(expr("CAST(greatest(m, 1) AS BIGINT)").as("s"))
    val w0 = cvec.select(col("dim"), lit(0L).as("w"))
    val wK = (1 to iters).foldLeft(w0) { (w, _) =>
      val cw = mat.join(w.select(col("dim").as("jd"), col("w")),
          col("j") === col("jd"))
        .groupBy("i").agg(sum(col("a") * col("w")).as("cw"))
      cvec.join(cw, col("dim") === col("i"))
        .join(w.select(col("dim").as("pd"), col("w").as("pw")),
          col("dim") === col("pd"))
        .crossJoin(broadcast(gersh))
        .select(col("dim"),
          expr("CAST(least(1000000, greatest(-1000000, pw + " +
            "CASE WHEN c * 10000000000 - cw < 0 " +
            "THEN -((-(c * 10000000000 - cw)) DIV s) " +
            "ELSE (c * 10000000000 - cw) DIV s END)) AS BIGINT)").as("w"))
        .localCheckpoint(false)
    }
    wK.select(col("dim").cast("long").as("dim"), col("w")).orderBy("dim")
  }

  private def sameRows(got: DataFrame, want: DataFrame): Seq[Row] = {
    got.schema.map(f => f.name -> f.dataType) shouldBe
      want.schema.map(f => f.name -> f.dataType)
    val rows = got.collect().toSeq
    rows shouldBe want.collect().toSeq
    rows
  }

  /** Both kernels against both references on one cloud; returns the
    * (pca, probe) rows. */
  private def check(e: DataFrame): (Seq[Row], Seq[Row]) = {
    val tri = Ann.covarianceTri(e, "vec_id", "embedding")
    (sameRows(Ann.pcaPower(tri), refPcaPower(tri)),
      sameRows(Ann.linearProbe(e, "vec_id", "embedding", "y"),
        refLinearProbe(e)))
  }

  test("random cloud with negative covariances: rows equal the folds") {
    val r = new scala.util.Random(11)
    val d = 12
    val rows = (0L until 150L).map { i =>
      val g = r.nextGaussian()
      val v = (0 until d).map { j =>
        val sgn = if (j % 2 == 0) 1.0 else -1.0
        math.max(-1.9, math.min(1.9,
          0.4 * sgn * g + 0.2 * r.nextGaussian()))
      }
      (i, v, if (g + 0.5 * r.nextGaussian() >= 0) 1L else -1L)
    }
    val e = cloud(rows)
    val negatives = Ann.covarianceTri(e, "vec_id", "embedding")
      .filter(col("cov_u") < 0).count()
    assert(negatives > 0)
    val (pca, probe) = check(e)
    pca.map(_.getLong(0)) shouldBe (0L until d.toLong)
    assert(pca.exists(_.getLong(1) < 0) && pca.exists(_.getLong(1) > 0))
    assert(probe.exists(_.getLong(1) != 0L))
  }

  test("constant embeddings: all-zero matrix gives the zero vector") {
    val e = cloud((0L until 20L).map(i =>
      (i, Seq(0.25, -0.5, 0.125), if (i % 2 == 0) 1L else -1L)))
    val (pca, probe) = check(e)
    pca.map(r => r.getLong(0) -> r.getLong(1)) shouldBe
      Seq(0L -> 0L, 1L -> 0L, 2L -> 0L)
    probe.length shouldBe 3
  }

  test("single vector and d = 1 match the folds") {
    check(cloud(Seq((7L, Seq(0.3, -0.2, 0.9, 0.0), 1L))))
    val (pca, probe) = check(cloud((0L until 30L).map(i =>
      (i, Seq(((i * 37) % 19 - 9) / 10.0), if (i % 3 == 0) 1L else -1L))))
    pca.length shouldBe 1
    probe.length shouldBe 1
  }

  test("empty embeddings table gives empty output") {
    val (pca, probe) = check(cloud(Seq.empty))
    pca shouldBe empty
    probe shouldBe empty
  }

  /** The first ArithmeticException in `t`'s cause chain, if any. */
  private def arithmetic(t: Throwable): Option[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .find(_.isInstanceOf[ArithmeticException])

  test("overflow throws instead of wrapping, like the ANSI folds") {
    import spark.implicits._
    // 3e14 · 1e5 (the starting iterate) is past 2^63
    val tri = Seq((0, 0, 300000000000000L), (0, 1, 1L), (1, 1, 5L))
      .toDF("dim_a", "dim_b", "cov_u")
    intercept[ArithmeticException](Ann.pcaPower(tri))
    assert(arithmetic(intercept[Exception](
      refPcaPower(tri).collect())).isDefined)
    // coordinates far outside the unit-norm contract: the
    // cross-covariance c ~ 1e9 makes c·1e10 overflow in the first step
    val e = cloud((0L until 10L).map { i =>
      val y = if (i % 2 == 0) 1L else -1L
      (i, Seq(1000.0 * y), y)
    })
    val small = Seq((0, 0, 5L)).toDF("dim_a", "dim_b", "cov_u")
    intercept[ArithmeticException](Ann.linearProbe(e, "vec_id",
      "embedding", "y", covTri = Some(small)))
    assert(arithmetic(intercept[Exception](
      refLinearProbe(e, covTri = Some(small)).collect())).isDefined)
  }
}
