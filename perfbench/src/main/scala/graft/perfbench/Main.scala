package graft.perfbench

import java.io.File

/** Entry point of one benchmark run:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <benchmark data dir> [--record-digests]
  * }}}
  * run from the run's working directory, with the repository's `data/`
  * reachable there (registry queries open fixtures relative to it).
  * Prints notes, then one `PERFBENCH_RESULT {...}` line holding every
  * metric the workload measured. Exits non-zero when any operation
  * failed or the run is invalid — after printing. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts.getOrElse("workload", "")
    val env = Env(workload, opts("seed").toLong, opts("seconds").toInt,
      opts.getOrElse("trace", "0") == "1", new File(".").getCanonicalFile,
      new File(opts("data")).getCanonicalFile)
    val record = args.contains("--record-digests")

    val host0 = Host.sample()
    val out = workload match {
      case "registry_heavy" =>
        Registry.run(env, new File(env.data, "digests.tsv"), record)
      case "crane_wordcount" => Crane.run(env)
      case other => sys.error(s"unknown workload '$other'")
    }
    val host1 = Host.sample()
    out.metrics("process.peak_rss_mb") = Host.peakRssMb()
    val steal = Host.stealRatio(host0, host1)
    out.note(f"host: loadavg ${host0.load}%.2f -> ${host1.load}%.2f, " +
      f"sentinel ${host0.sentinel}%.3f s -> ${host1.sentinel}%.3f s, " +
      f"${steal * 100}%.1f%% of CPU time stolen by other guests")
    if (env.trace) {
      out.metrics("host.sentinel_s") = (host0.sentinel + host1.sentinel) / 2
      out.metrics("host.loadavg") = (host0.load + host1.load) / 2
      out.metrics("host.steal_ratio") = steal
      java.nio.file.Files.writeString(new File(env.work, "spans.json").toPath,
        Spans.toJson(out.spans))
      Spans.selfByKind(out.spans).toSeq.sorted.foreach { case (k, ms) =>
        out.note(f"self time: $k ${ms / 1000}%.3f s") }
    }
    out.problems.foreach(p => out.note(s"FAILED: $p"))
    System.out.println("PERFBENCH_RESULT " + out.toJson)
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    Runtime.getRuntime.halt(out.exitCode)
  }
}

/** Host health, recorded at the start and end of every run. */
object Host {
  final case class Sample(load: Double, sentinel: Double, cpu: Array[Long])

  def sample(): Sample = Sample(loadavg(), sentinel(), cpuTicks())

  /** The aggregate "cpu" line of /proc/stat (user nice system idle
    * iowait irq softirq steal ...). */
  def cpuTicks(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
    } catch { case _: Throwable => Array.fill(8)(0L) }

  /** Share of the host's CPU time between two samples that a hypervisor
    * gave to other guests: a high value means the figures were measured
    * on a contended host. */
  def stealRatio(a: Sample, b: Sample): Double = {
    val d = b.cpu.zip(a.cpu).map { case (x, y) => x - y }
    if (d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(' ')(0).toDouble
    catch { case _: Throwable => -1.0 }

  @volatile private var sink = 0L
  /** A fixed-work single-core xorshift64 loop (the one `graft.Bench`
    * times): a slower reading means a slower or busier host. */
  def sentinel(): Double = {
    def loop(n: Long): Long = {
      var s = 88172645463325252L
      var i = 0L
      while (i < n) { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; i += 1 }
      s
    }
    sink ^= loop(20000000L)
    val t0 = System.nanoTime()
    sink ^= loop(100000000L)
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set (VmHWM) of this process, in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
}
