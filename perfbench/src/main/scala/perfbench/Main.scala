package perfbench

import graft.{BenchConf, Tables}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.Random

/** The benchmark's main program. `run.py` builds it and calls
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --expected FILE --work DIR [--code-id ID]
  * perfbench.Main --record FILE --data DIR --work DIR
  * }}}
  *
  * One client, closed loop: each item starts when the previous one has
  * finished. A run sets up the session (and tables) three times, keeps
  * the last session, runs one cold pass over the workload's items and
  * then a fixed number of warm passes in the same session. The last line
  * of stdout is the result JSON; the lines before it are the config
  * record and a readable summary.
  */
object Main {

  final class Refuse(msg: String) extends Exception(msg)

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new Refuse(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(args: Array[String]): Args = {
    val it = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new Refuse(s"bad arguments: ${other.mkString(" ")}")
    }
    Args(it.toMap)
  }

  val Workloads = Seq("queries", "mapreduce_core")

  /** Plain queries per `queries` pass: the middle query of each of this
    * many strata of the candidates ordered by recorded warm time, a fixed
    * panel from cheap to costly. The seed only orders the items: a seeded
    * draw from the strata moved warm_pass_s by ±16% across five seeds,
    * more than any bound a regression check can use.
    */
  val PlainItems = 6
  /** Plain queries are drawn from those whose recorded warm time is at
    * most this: the slowest tenth (iterative graph loops and the like)
    * would dominate every pass and the run budget.
    */
  val PlainMaxWarmMs = 1000
  /** Artifact consumers run when their recorded first touch in a fresh
    * session took at most this, which keeps a cold pass within the run
    * budget (the heaviest single build, q_link_jaccard's, takes ~28 s).
    */
  val ConsumerMaxColdMs = 800
  /** Seconds one warm pass takes on a 4-core host; the warm pass count is
    * fixed from it and `--seconds`, so every run of a workload does the
    * same work and reports percentiles over the same sample count.
    */
  val NominalPassS = Map("queries" -> 3.3, "mapreduce_core" -> 1.5)
  /** mapreduce_core input: pairs per partition (one partition per core). */
  val MrPairsPerCore = 131072
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val code =
      try {
        val a = parse(args)
        a.get("record") match {
          case Some(out) => Record.run(a, out, entry)
          case None => run(a, entry)
        }
      } catch {
        case e: Refuse =>
          System.err.println(s"[perfbench] refused: ${e.getMessage}")
          2
      }
    System.out.flush()
    System.exit(code)
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** Fail fast on a data dir the engine would silently mis-configure:
    * unreadable, missing a table, or sized so BenchConf derives one
    * shuffle partition (its fallback when the dir walk fails).
    */
  def checkData(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.isDirectory || !d.canRead) throw new Refuse(s"data dir $dir is not readable")
    Tables.all.foreach { t =>
      val f = new java.io.File(d, s"$t.parquet")
      if (!f.exists || !f.canRead) throw new Refuse(s"table $t missing under $dir")
    }
    val parts = BenchConf.sizeDerivedPartitions(dir)
    if (parts <= 1)
      throw new Refuse(s"BenchConf derives $parts shuffle partition(s) for the non-empty dir $dir")
    parts
  }

  def session(dir: String, work: String, probe: Probe): SparkSession = {
    val s = BenchConf(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"), dir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(probe)
    s
  }

  /** Core count, data dir, partition count and the session's SQL and
    * shuffle settings (which include every BenchConf setting).
    */
  def configRecord(s: SparkSession, dir: String, derived: Int): String = {
    val conf = s.conf.getAll.toSeq.sorted.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.shuffle.") ||
        Set("spark.master", "spark.local.dir", "spark.ui.enabled")(k)
    }
    Json.obj(Seq(
      "cores" -> cores.toString,
      "data_dir" -> Json.str(dir),
      "derived_shuffle_partitions" -> derived.toString,
      "spark.sql.shuffle.partitions" ->
        Json.str(s.conf.get("spark.sql.shuffle.partitions")),
      "settings" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) })))
  }

  final case class Setup(spark: SparkSession, secs: Double, sessionS: Double,
      tablesS: Double, tables: Counts)

  /** Session start (and, unless `sessionOnly`, every table through
    * `Tables.load`), timed from `from`.
    */
  def setup(dir: String, work: String, probe: Probe, trace: Trace,
      from: Long, sessionOnly: Boolean, n: Int): Setup = {
    trace.newItem()
    val (spark, tSession) = trace.span("session", s"session $n")(session(dir, work, probe))
    val c0 = probe.snapshot(spark.sparkContext)
    val (_, tTables) =
      if (sessionOnly) ((), 0L)
      else {
        val publish = Probe.publish(spark.sparkContext, _)
        trace.span("tables", s"tables $n", publish) {
          Tables.all.foreach(t =>
            trace.span("tables", s"load $t", publish)(Tables.load(spark, dir, t)))
        }
      }
    val c1 = probe.snapshot(spark.sparkContext)
    Setup(spark, (System.nanoTime() - from) / 1e9, tSession / 1e9,
      tTables / 1e9, c1 - c0)
  }

  def run(a: Args, entry: Long): Int = {
    val workload = a("workload")
    if (!Workloads.contains(workload)) throw new Refuse(s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val dir = a("data")
    val work = a("work")
    val derived = checkData(dir)
    val expected = Expected.load(a("expected"))
    Files.createDirectories(Paths.get(work))

    val trace = new Trace
    trace.on = traced
    val probe = new Probe(trace)
    val sessionOnly = workload == "mapreduce_core"
    val setups = (1 to Setups).map { n =>
      val from = if (n == 1) entry else System.nanoTime()
      val s = setup(dir, work, probe, trace, from, sessionOnly, n)
      if (n < Setups) s.spark.stop()
      s
    }
    val spark = setups.last.spark
    val ctx = new Ctx(spark, dir, work, cores, probe, trace)
    println("config " + configRecord(spark, dir, derived))

    val rnd = new Random(seed)
    val known = expected.values.toSeq.filter(r => ctx.queries.contains(r.name))
    val plain = {
      val cands = known.filter(r => r.plain && r.warmMs <= PlainMaxWarmMs)
        .sortBy(r => (r.warmMs, r.name))
      val strata = (0 until PlainItems).map(i =>
        cands.slice(i * cands.size / PlainItems, (i + 1) * cands.size / PlainItems))
      strata.map(s => s(s.size / 2).name)
    }
    val consumers = known.filter(r => r.consumer && r.coldMs <= ConsumerMaxColdMs)
      .map(_.name).sorted
    val items: Seq[Item] = workload match {
      case "queries" =>
        rnd.shuffle((plain ++ consumers).map(QueryItem(_)) :+ LayoutItem())
      case "mapreduce_core" =>
        val in = MrInput(seed, cores, MrPairsPerCore)
        val rdd = in.rdd(spark)
        val n8 = (in.pairs / 8).toInt
        val jobs = for {
          path <- Seq("hash", "combine", "ordering")
          (label, keys) <- Seq("k100" -> 100, "kn8" -> n8)
        } yield (path, label, keys)
        val hist = Map(100 -> in.histogram(100), n8 -> in.histogram(n8))
        rnd.shuffle(jobs.map { case (p, l, k) => MrItem(p, l, k, rdd, hist(k)) })
    }

    def check(o: Outcome): Outcome =
      if (!o.ok) o
      else o match {
        case _ if o.mr.isDefined => o
        case _ => expected.get(o.name) match {
          case None => o.copy(error = Some("no recorded output"))
          case Some(r) if r.rows != o.rows =>
            o.copy(error = Some(s"rows ${o.rows}, recorded ${r.rows}"))
          case Some(r) if !r.exempt && r.digest != o.digest =>
            o.copy(error = Some(s"digest ${Digest.hex(o.digest)}, recorded ${Digest.hex(r.digest)}"))
          case _ => o
        }
      }

    def pass(): Seq[Outcome] = items.map { it =>
      spark.catalog.clearCache()
      trace.newItem()
      val o = check(it.run(ctx))
      o.error.foreach(e => System.err.println(s"[perfbench] FAILED ${o.name}: $e"))
      o
    }

    val cgCount0 = Codegen.count
    val cgNs0 = Codegen.ns
    val cold = pass()
    val cgCount = Codegen.count - cgCount0
    val cgNs = Codegen.ns - cgNs0

    val warmN = math.max(2, math.round(seconds / NominalPassS(workload)).toInt)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // in the traced run, passes alternate untraced / traced so the
    // difference between the two medians is the tracing overhead
    final case class Pass(outs: Seq[Outcome], cpuNs: Long, traced: Boolean)
    val warm = (0 until warmN).map { i =>
      trace.on = traced && i % 2 == 1
      val cpu0 = os.getProcessCpuTime
      val outs = pass()
      Pass(outs, os.getProcessCpuTime - cpu0, trace.on)
    }
    trace.on = traced

    // workload premise: a plain query runs as many construction jobs warm
    // as cold (it builds no artifact); an artifact consumer runs fewer
    // warm than on first touch in a fresh session (its recorded count: a
    // sibling earlier in this pass may have paid a shared build), never
    // more warm than cold, and the consumers as a whole build cold
    def buildJobs(outs: Seq[Outcome], n: String) =
      outs.find(_.name == n).filter(_.ok).map(_.build(Counts.Jobs))
    val premise = if (workload != "queries") Nil else {
      val perItem = (plain ++ consumers).flatMap { n =>
        (buildJobs(cold, n), buildJobs(warm.head.outs, n)) match {
          case (Some(cj), Some(wj)) if plain.contains(n) && cj != wj =>
            Some(s"plain query $n ran $cj construction jobs cold and $wj warm")
          case (Some(cj), Some(wj)) if consumers.contains(n) &&
              (wj > cj || wj >= expected(n).coldBuildJobs) =>
            Some(s"artifact consumer $n ran $wj construction jobs warm, $cj cold, " +
              s"${expected(n).coldBuildJobs} on first touch when recorded")
          case _ => None
        }
      }
      val cs = consumers.flatMap(buildJobs(cold, _)).sum
      val ws = consumers.flatMap(buildJobs(warm.head.outs, _)).sum
      perItem ++ (if (cs <= ws)
        Seq(s"the consumers ran $cs construction jobs cold and $ws warm") else Nil)
    }
    if (premise.nonEmpty) {
      premise.foreach(p => System.err.println(s"[perfbench] PREMISE BROKEN: $p"))
      println(s"premise broken for $workload: ${premise.mkString("; ")}")
      return 3
    }

    val all = cold ++ warm.flatMap(_.outs)
    val failed = all.count(!_.ok)
    val attempted = all.size
    def secs(ns: Long) = ns / 1e9
    def passS(outs: Seq[Outcome]) = secs(outs.filter(_.ok).map(_.timeNs).sum)
    val warmSamples = warm.flatMap(_.outs).filter(_.ok).map(o => secs(o.timeNs))
    val (tailP, tailV) = Stats.tail(warmSamples)
    val rssMb = Memory.rssPeakMb()
    val heapMb = Memory.heapPeakMb()

    val mrPairs = items.collect { case m: MrItem => m }.size.toLong *
      cores * MrPairsPerCore
    val mrWarmS = warm.map(p => passS(p.outs))
    val pairsPerS = if (workload == "mapreduce_core") mrPairs / Stats.median(mrWarmS) else 0.0

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", Stats.median(setups.map(_.secs)), "s"),
        ("cold_pass_s", passS(cold), "s"),
        ("warm_pass_s", Stats.median(warm.map(p => passS(p.outs))), "s"),
        ("item_p50_s", Stats.median(items.map(_.name).flatMap { n =>
          val ws = warm.flatMap(_.outs.find(_.name == n)).filter(_.ok)
          if (ws.isEmpty) None else Some(Stats.median(ws.map(o => secs(o.timeNs))))
        }), "s"),
        ("item_tail_s", tailV, "s"),
        ("warm_cpu_s", Stats.median(warm.map(p => secs(p.cpuNs))), "s"),
        ("peak_rss_mb", rssMb, "MB"),
        ("peak_heap_mb", heapMb, "MB"))
      else Layers.metrics(workload, setups, cold, warm.map(p => (p.outs, p.traced)),
        cgCount, cgNs, trace, pairsPerS, cores, a.get("code-id"), seed, work)

    // readable summary, then the result as the last line
    val failedRatio = failed.toDouble / math.max(1, attempted)
    println(s"workload $workload seed $seed cores $cores items ${items.size} " +
      s"warm_passes $warmN traced $traced")
    println(f"failed_ratio $failedRatio%.6f ($failed of $attempted items)")
    if (!traced) {
      println(s"item_tail_s is p$tailP over ${warmSamples.size} warm samples")
      if (workload == "mapreduce_core")
        println(s"mr_pairs_per_s ${Json.num(pairsPerS)} 1/s")
    }
    metrics.foreach { case (k, v, u) => println(s"metric $k ${Json.num(v)} $u") }
    // per-item record next to the trace: cold time, warm median, jobs
    val out = Paths.get(work).toAbsolutePath.getParent
    Files.writeString(out.resolve(s"items_${workload}_$seed.tsv"),
      ("item\tcold_s\twarm_p50_s\tcold_build_jobs\twarm_build_jobs\tjobs\terror" +:
        items.map(_.name).map { n =>
          val c = cold.find(_.name == n).get
          val ws = warm.flatMap(_.outs.find(_.name == n))
          Seq(n, secs(c.timeNs), Stats.median(ws.map(o => secs(o.timeNs))),
            c.build(Counts.Jobs), ws.head.build(Counts.Jobs), ws.head.total(Counts.Jobs),
            (c +: ws).flatMap(_.error).headOption.getOrElse("")).mkString("\t")
        }).mkString("", "\n", "\n"))
    if (traced) trace.write(out.resolve(s"trace_${workload}_$seed.jsonl"))
    val correct = failed == 0
    val m = Json.obj(metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    spark.stop()
    println(Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> m)))
    0
  }
}

object Codegen {
  def count: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def ns: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

object Memory {
  /** VmHWM of this process in MB (Linux). */
  def rssPeakMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
  }

  /** Sum over the heap's memory pools of each pool's peak usage, in MB.
    * G1 touches every region of a fixed heap sooner or later, so the RSS
    * can read the whole heap; the pool peaks follow what the run used.
    */
  def heapPeakMb(): Double = {
    var bytes = 0L
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) bytes += p.getPeakUsage.getUsed
    }
    bytes / 1048576.0
  }
}
