package graft.run

import graft.Bench
import org.apache.spark.sql.SparkSession

/** N → 4N scaling evidence (BENCH.md): the same work at a low and a high
  * level in paired rounds. Every round measures both levels, alternating
  * which goes first (the host's burst credits drain over a run, so a fixed
  * order hands the second level the drained window); the round's paired
  * efficiency is (wall_low / wall_high) / (high / low), and the headline is
  * the median over rounds, robust to slow drift that medians of walls are
  * not.
  *
  * The protocols differ only in what a level is:
  *   - `--cluster`: a fresh Spark standalone local-cluster per measurement,
  *     `level` worker JVMs × `--cores` cores, each with its own heap. This is
  *     the sandbox analogue of N → 4N executors: adding executors adds heaps
  *     and allocators, which `local[N]` threads in one shared heap do not.
  *   - default: a `local[level]` session in this JVM.
  *   - `--kernel TOTAL`: no Spark; TOTAL splitmix64 iterations split over
  *     `level` register-resident threads, a control for the host's CPU grants.
  *
  * Usage: ScalingBench [--cluster | --kernel TOTAL] [--pages N] [--low L]
  *          [--high H] [--rounds R] [--stage full|mentions|curate] [--cores C]
  *          [--cooldown SEC] [--control] [--json FILE]
  * Prints the summary JSON line; `--json` also writes it, with every round's
  * decomposition, to FILE. Cluster executors append SPARK_GRAFT_EXEC_OPTS to
  * their JVM flags.
  */
object ScalingBench {

  type Job = (SparkSession, Long) => (Double, Double, Long)

  /** The job each `--stage` measures: (docs/s, outputs/s, outputs). */
  val Stages: Map[String, Job] = Map(
    "full" -> ((s, n) => Bench.kgThroughput(s, n)),
    "mentions" -> ((s, n) => Bench.mentionThroughput(s, n)),
    "curate" -> Bench.curateThroughput)

  def stageJob(stage: String): Job = Stages.getOrElse(stage, throw new IllegalArgumentException(
    s"unknown --stage '$stage' (expected ${Stages.keys.toSeq.sorted.mkString(" | ")})"))

  /** Fixed total work, `rounds` splitmix64 iterations, split over `threads`
    * register-resident threads (no allocation, no memory traffic); returns
    * (wall, process CPU) seconds. Sized to the Spark measurements' walls, it
    * measures the host's steady-state CPU grant for N vs 4N runnable
    * threads: if it scales ~1.0 while a Spark pair does not, the gap is the
    * job's; if it collapses, the wall ratio measures the host scheduler. */
  def kernelControl(threads: Int, totalRounds: Long): (Double, Double) = {
    val per = totalRounds / threads
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + t
        var i = 0L
        while (i < per) { x = graft.kg.Synth.splitmix64(x); i += 1 }
        sink.addAndGet(x)
      })
      th.start(); th
    }
    ts.foreach(_.join())
    ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - cpu0) / 1e9)
  }

  /** The register-resident kernel as `procs` JVM processes × `threadsPer`
    * threads (the cluster's process layout) against the same total work in
    * one process with procs × threadsPer threads; (single, multi) walls.
    * multi/single ≈ 1 ⇒ the host does not penalize the process count. */
  def mpKernelControl(procs: Int, threadsPer: Int, totalRounds: Long): (Double, Double) = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val single = kernelControl(procs * threadsPer, totalRounds)._1
    val t0 = System.nanoTime()
    val ps = (0 until procs).map { _ =>
      new ProcessBuilder(java, s"-XX:ActiveProcessorCount=$threadsPer", "-cp", cp,
        "graft.run.ScalingBench", "--kernel-child", s"${threadsPer}x${totalRounds / procs}")
        .inheritIO().start()
    }
    ps.foreach(p => require(p.waitFor() == 0, "kernel child failed"))
    (single, (System.nanoTime() - t0) / 1e9)
  }

  /** One measurement at one level: the timed work's rate, output count and
    * wall, and the task totals that show where a wall-second went (executor
    * CPU vs GC vs shuffle fetch vs result serialization; stall cycles show
    * up as CPU inflation with gc/fetch/ser ≈ 0). */
  final case class Sample(level: Int, threads: Int, docsPerSec: Double, n: Long, wall: Double,
                          t: TaskTotals.Snapshot) {
    /** Σ task run time / (wall × threads): whether the work keeps every
      * thread busy; a serial bottleneck shows as a collapse at the high level. */
    def util: Double = t.runSec / (wall * threads)
    def json(levelKey: String): String = String.format(java.util.Locale.ROOT,
      s"""{"$levelKey":%d,"wall_sec":%.2f,"docs_per_sec":%.1f,"util":%.3f,""" +
        """"exec_cpu_sec":%.1f,"gc_sec":%.1f,"fetch_wait_sec":%.1f,"result_ser_sec":%.1f,"n_out":%d}""",
      Int.box(level), Double.box(wall), Double.box(docsPerSec), Double.box(util),
      Double.box(t.cpuSec), Double.box(t.gcSec), Double.box(t.fetchWaitSec),
      Double.box(t.resultSerSec), Long.box(n))
  }

  /** What a level is: the JSON names of the protocol (`prefix`) and of its
    * level, the cores each level unit has, the protocol's description, the
    * workload's summary fields, and one measurement at (round, level). */
  private final case class Protocol(prefix: String, levelKey: String, cores: Int, describe: String,
                                    workload: String, measure: (Int, Int) => Sample)

  /** One timed run of `job` on a fresh session; `warmPages` of the same job
    * first warm the JIT and codegen, untimed. */
  private def sparkSample(newSession: => SparkSession, level: Int, threads: Int, job: Job,
                          warmPages: Long, nPages: Long): Sample = {
    // a previous measurement's stopped session must not be resurrected by
    // getOrCreate, which caches the default session across stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = newSession
    spark.sparkContext.setLogLevel("ERROR")
    val totals = TaskTotals.on(spark)
    try {
      if (warmPages > 0) job(spark, warmPages)
      val ((docsPerSec, _, n), wall, t) = totals.timed(job(spark, nPages))
      Sample(level, threads, docsPerSec, n, wall, t)
    } finally spark.stop()
  }

  private val AddOpens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")

  /** A standalone local-cluster of `workers` executor JVMs × `cores` cores,
    * each with its own 6g heap. */
  private def clusterSession(workers: Int, cores: Int): SparkSession = {
    val execOpts = AddOpens.map(p => s"--add-opens=java.base/$p=ALL-UNNAMED") ++ Seq(
      // each executor believes it owns `cores` cores (a cpuset-limited
      // YARN/k8s container), so its GC/JIT pools are sized for the executor,
      // not the host: otherwise every extra worker adds host-sized GC pools
      s"-XX:ActiveProcessorCount=$cores",
      // production sizing, -Xms = -Xmx: with ~2g committed heap young GCs
      // run constantly (155 → 50 young GCs per executor on the full pipeline)
      "-Xms6g",
      // under G1, co-tenant executors hit allocation failure in lockstep and
      // their stop-the-world copy phases crawl on the shared memory bus
      // (17-42 s pauses, 49-325 s GC per 4-worker measurement); ZGC
      // relocates concurrently: the 4-worker full-pipeline probe went from
      // 74 s wall / 113 s GC to 42 s / 6.8 s (BENCH.md)
      "-XX:+UseZGC") ++ sys.env.get("SPARK_GRAFT_EXEC_OPTS")
    // executors load the engine from where this JVM loaded it
    val classes = new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val b = SparkSession.builder()
      .master(s"local-cluster[$workers,$cores,7168]")
      .appName(s"graft-cluster-$workers")
      .config("spark.executor.memory", "6g")
      .config("spark.executor.cores", cores.toString)
      .config("spark.executor.extraClassPath", classes.getPath)
      .config("spark.executor.extraJavaOptions", execOpts.mkString(" "))
      .config("spark.sql.shuffle.partitions", (workers * cores).toString)
      // 8 tasks per core: with one task per core any per-task duration
      // variance idles whole cores at the stage tail (utilization 0.82 at 4
      // workers with 8 fat tasks)
      .config("spark.default.parallelism", (workers * cores * 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").foreach(d => b.config("spark.local.dir", d))
    b.getOrCreate()
  }

  private final case class Round(r: Int, order: Seq[Int], kernelEff: Option[Double],
                                 lo: Sample, hi: Sample)

  private def num(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
  private def median(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.length / 2)

  /** The paired rounds; prints the summary line and returns the document
    * that `--json` writes. */
  private def pairedRounds(p: Protocol, low: Int, high: Int, rounds: Int, cooldownSec: Int,
                           control: Boolean): String = {
    val ratio = high.toDouble / low
    def eff(wLow: Double, wHigh: Double) = (wLow / wHigh) / ratio
    // ~8e9 iterations ≈ 15 s at 8 threads on a 4-core host
    val controlRounds = 8L * 1000 * 1000 * 1000
    val rs = (0 until rounds).map { r =>
      val order = if (r % 2 == 0) Seq(low, high) else Seq(high, low)
      // in-window control: if it scales ~1.0 while the work does not, the
      // gap is the work's; if it collapses, the window is the host's
      val kernelEff = Option.when(control)(eff(
        kernelControl(low * p.cores, controlRounds)._1, kernelControl(high * p.cores, controlRounds)._1))
      val got = order.map { l =>
        // an idle gap before every measurement (both levels): burst credits
        // regenerate under low demand, so each measurement starts from a
        // comparable credit state instead of the previous level's drain
        if (cooldownSec > 0) Thread.sleep(cooldownSec * 1000L)
        val s = p.measure(r, l)
        System.err.println(f"[scaling] round $r ${p.levelKey}=$l wall=${s.wall}%.1f s " +
          f"docs/s=${s.docsPerSec}%.1f util=${s.util}%.3f ${s.t.line}")
        l -> s
      }.toMap
      Round(r, order, kernelEff, got(low), got(high))
    }
    // GC-stall-excluded efficiency: gc_sec sums over a level's JVMs and a
    // pause stops their task threads, so wall − gc/level is the wall with
    // the low level's GC profile
    def exGc(s: Sample) = s.wall - s.t.gcSec / s.level
    // stall-cycle signature: executor CPU for IDENTICAL work inflating at the
    // high level with gc/fetch/ser ≈ 0 (memory-bus contention charged as
    // CPU); ≤ 1.25 is the conserved band (clean windows measured 0.94–1.07)
    def cpuRatio(x: Round) = x.hi.t.cpuSec / math.max(x.lo.t.cpuSec, 1e-9)
    val effs = rs.map(x => eff(x.lo.wall, x.hi.wall))
    val effsExGc = rs.map(x => eff(exGc(x.lo), exGc(x.hi)))
    val conserved = rs.zip(effs).collect { case (x, e) if cpuRatio(x) <= 1.25 => e }
    val outs = rs.flatMap(x => Seq(x.lo.n, x.hi.n)).distinct
    require(outs.length <= 1, s"nondeterministic output count: ${outs.mkString(" vs ")}")
    def med(side: Round => Sample) = rs.map(side).sortBy(_.wall).apply(rs.length / 2)
    val (mL, mH) = (med(_.lo), med(_.hi))
    // the conserved-subset median is not cherry-picking: every round ships
    // with its decomposition and the criterion is computable from it; it
    // answers what the work scales at when the host delivers the high
    // level's cores, the question a real cluster (one memory bus per
    // executor host) asks
    val headline = s"""{"${p.prefix}scaling_efficiency":${num(median(effs))},""" +
      s""""${p.prefix}scaling_efficiency_cpu_conserved":${if (conserved.isEmpty) "null" else num(median(conserved))},""" +
      s""""${p.prefix}scaling_efficiency_ex_gc":${num(median(effsExGc))},""" +
      s""""cpu_conserved_rounds":${conserved.length},"rounds":${effs.map(num).mkString("[", ",", "]")},""" +
      s""""low_${p.levelKey}":$low,"high_${p.levelKey}":$high,""" +
      s""""wall_low":${num(mL.wall)},"wall_high":${num(mH.wall)},""" +
      s""""docs_per_sec_low":${num(mL.docsPerSec)},"docs_per_sec_high":${num(mH.docsPerSec)},""" +
      s""""util_low":${num(mL.util)},"util_high":${num(mH.util)},""" +
      s""""exec_cpu_low":${num(mL.t.cpuSec)},"exec_cpu_high":${num(mH.t.cpuSec)},""" +
      s"""${p.workload},"cores_per_worker":${p.cores},"cooldown_sec":$cooldownSec}"""
    println(headline)
    val mpJson = if (control) {
      val (sp, mp) = mpKernelControl(high, p.cores, controlRounds)
      s""","mp_kernel_control":{"single_proc_wall":${num(sp)},"multi_proc_wall":${num(mp)},"procs":$high,"threads_per":${p.cores}}"""
    } else ""
    val details = rs.indices.map { i =>
      val x = rs(i)
      s"""{"round":${x.r},"order":"${x.order.mkString("->")}",""" +
        x.kernelEff.map(k => s""""kernel_control_eff":${num(k)},""").getOrElse("") +
        s""""pair_eff":${num(effs(i))},"pair_eff_ex_gc":${num(effsExGc(i))},""" +
        s""""cpu_ratio":${num(cpuRatio(x))},"cpu_conserved":${cpuRatio(x) <= 1.25},""" +
        s""""low":${x.lo.json(p.levelKey)},"high":${x.hi.json(p.levelKey)}}"""
    }
    s"""{"protocol":"${p.describe}, paired rounds with alternating order, median of per-round paired efficiencies; cpu_ratio = high exec CPU / low exec CPU for identical work (>1.25 with gc/fetch/ser~0 = co-tenant memory-stall cycles charged as CPU, see BENCH.md)",""" +
      s""""summary":$headline$mpJson,"rounds_detail":[${details.mkString(",")}]}"""
  }

  def main(args: Array[String]): Unit = {
    val (opts, _) = Cli.parse(args, Set("--cluster", "--kernel", "--kernel-child", "--pages",
      "--low", "--high", "--rounds", "--stage", "--cores", "--cooldown", "--control", "--json"))
    opts.get("--kernel-child").foreach { spec =>
      // a child process of mpKernelControl: "<threads>x<iterations>"
      val Array(threads, n) = spec.split('x')
      kernelControl(threads.toInt, n.toLong)
      return
    }
    def int(k: String, default: Int) = opts.get(k).fold(default)(_.toInt)
    val cluster = opts.contains("--cluster")
    val (low, high) = (int("--low", if (cluster) 1 else 2), int("--high", if (cluster) 4 else 8))
    val nPages = opts.get("--pages").fold(20000L)(_.toLong)
    val stage = opts.getOrElse("--stage", "full")
    val job = stageJob(stage)
    val workload = s""""pages":$nPages,"stage":"$stage""""
    val protocol = opts.get("--kernel").map(_.toLong) match {
      case Some(total) =>
        Protocol("kernel_", "threads", 1,
          s"register-resident splitmix64 kernel, $total iterations over $low vs $high threads",
          s""""total_rounds":$total""", (_, l) => {
            val (wall, cpu) = kernelControl(l, total)
            Sample(l, l, 0, 0, wall, TaskTotals.Snapshot(runSec = cpu, cpuSec = cpu))
          })
      case None if cluster =>
        // release dists have no launcher build dirs, so the in-process
        // Worker needs the scala version from the env to assemble the
        // executor command (bin/spark-submit injects it through
        // load-spark-env.sh)
        require(sys.env.contains("SPARK_SCALA_VERSION"),
          "local-cluster mode: export SPARK_SCALA_VERSION=2.13 so Worker JVMs can build the executor command")
        val cores = int("--cores", 2)
        Protocol("cluster_", "workers", cores,
          s"spark standalone local-cluster, $low vs $high worker JVMs x $cores cores x 6g private heap",
          workload, (_, w) =>
            // fresh executor JVMs every measurement: the warm-up grows with
            // the worker count so every executor JVM sees as many pages
            // before the timed run at both levels
            sparkSample(clusterSession(w, cores), w, w * cores, job,
              math.max(5000L, nPages / 8) * w, nPages))
      case None =>
        Protocol("", "cpus", 1, s"local[$low] vs local[$high] threads in one JVM", workload,
          (r, c) => sparkSample(Bench.session(c.toString), c, c, job,
            if (r == 0) math.max(2000L, nPages / 20) else 0L, nPages))
    }
    if (opts.get("--kernel").isEmpty) Bench.kgModelCached // train once, untimed
    val doc = pairedRounds(protocol, low, high, int("--rounds", 3), int("--cooldown", 0),
      control = opts.contains("--control"))
    opts.get("--json").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), doc + "\n")
      System.err.println(s"[scaling] wrote $p")
    }
  }
}
