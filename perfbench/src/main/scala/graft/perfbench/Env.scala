package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Run-wide settings and the one way this benchmark builds a session:
  * the same engine settings `graft.Bench` uses, with every file the
  * engine writes kept under the run's working directory. */
final case class Env(workload: String, seed: Long, seconds: Int,
                     trace: Boolean, work: File, data: File) {
  /** Task slots: half the host's cores, so the driver thread, JIT and
    * GC threads and the generator run beside the tasks instead of
    * queueing behind them. */
  val cores: Int = math.max(1, Runtime.getRuntime.availableProcessors() / 2)

  def session(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The table directory the registry workloads read (sf0.01). */
  def tables: String = new File(data, "sf0.01").getAbsolutePath

  /** A fresh, empty directory under the working directory. */
  def freshDir(name: String): File = {
    val d = new File(work, name)
    Env.deleteTree(d)
    d.mkdirs()
    d
  }
}

object Env {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def nowMs: Double = System.nanoTime() / 1e6 + offsetMs
  /** Epoch alignment of the monotonic clock, so spans line up with the
    * millisecond timestamps Spark's listener events carry. */
  private val offsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
