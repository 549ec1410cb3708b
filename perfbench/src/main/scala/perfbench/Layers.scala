package perfbench

import java.nio.file.{Files, Paths}

/** Per-layer metrics of a traced run. Scopes: `session.*` and `tables.*`
  * are medians over the set-ups; `ops.*`, `codegen.*` and `sink.*` cover
  * the cold pass (where builds, compiles and the first write happen);
  * `plan.s`, `exec.*` and `mr.*` are medians over the warm passes;
  * `self.*` is each layer's self time over the whole traced run.
  */
object Layers {
  import Counts._

  val MrPaths = Seq("hash", "combine", "ordering")
  val MrKeys = Seq("k100", "kn8")
  val SelfLayers = Seq("session", "tables", "ops", "plan", "exec", "mr", "sink")

  /** Time in the phases that run an item's own Spark jobs. */
  def execNs(o: Outcome): Long =
    Seq("exec", "mr", "sink").map(o.phases.getOrElse(_, 0L)).sum

  def metrics(workload: String, setups: Seq[Main.Setup], cold: Seq[Outcome],
      warm: Seq[(Seq[Outcome], Boolean)], codegenCount: Long, codegenNs: Long,
      trace: Trace, pairsPerS: Double, cores: Int, codeId: Option[String],
      seed: Long, work: String): Seq[(String, Double, String)] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def s(ns: Long) = ns / 1e9
    val coldOk = cold.filter(_.ok)
    val warmOk = warm.map(_._1.filter(_.ok))
    def perPass(f: Seq[Outcome] => Double) = med(warmOk.map(f))
    def execCount(i: Int) = perPass(_.map(_.exec(i)).sum.toDouble)

    val setupM = Seq(
      ("session.start_s", med(setups.map(_.sessionS)), "s"),
      ("tables.load_s", med(setups.map(_.tablesS)), "s"),
      ("tables.load_jobs", med(setups.map(_.tables(Jobs).toDouble)), "count"),
      ("tables.write_bytes", med(setups.map(_.tables(OutputBytes).toDouble)), "bytes"))
    val opsM = Seq(
      ("ops.build_s", s(coldOk.map(_.phases.getOrElse("ops", 0L)).sum), "s"),
      ("ops.build_jobs", coldOk.map(_.build(Jobs)).sum.toDouble, "count"),
      ("ops.build_write_bytes", coldOk.map(_.build(OutputBytes)).sum.toDouble, "bytes"))
    val planM = Seq(
      ("plan.s", perPass(os => s(os.map(_.phases.getOrElse("plan", 0L)).sum)), "s"),
      ("codegen.compiles", codegenCount.toDouble, "count"),
      ("codegen.compile_ms", codegenNs / 1e6, "ms"))
    val execM = Seq(
      ("exec.s", perPass(os => s(os.map(execNs).sum)), "s"),
      ("exec.jobs", execCount(Jobs), "count"),
      ("exec.stages", execCount(Stages), "count"),
      ("exec.tasks", execCount(Tasks), "count"),
      ("exec.task_run_s", execCount(TaskRunMs) / 1e3, "s"),
      ("exec.task_cpu_s", execCount(TaskCpuNs) / 1e9, "s"),
      ("exec.gc_s", execCount(GcMs) / 1e3, "s"),
      ("exec.busy_ratio", perPass { os =>
        val wall = s(os.map(execNs).sum)
        if (wall == 0) 0.0 else os.map(_.exec(TaskRunMs)).sum / 1e3 / (wall * cores)
      }, "ratio"),
      ("exec.shuffle_write_bytes", execCount(ShuffleWriteBytes), "bytes"),
      ("exec.shuffle_read_bytes", execCount(ShuffleReadBytes), "bytes"),
      ("exec.shuffle_records", execCount(ShuffleRecords), "count"),
      ("exec.spill_bytes", execCount(SpillBytes), "bytes"))
    val mrFields: Seq[(String, String, MrPhases => Double)] = Seq(
      ("map_s", "s", p => s(p.mapNs)),
      ("reduce_s", "s", p => s(p.reduceNs)),
      ("collect_s", "s", p => s(p.collectNs)),
      ("shuffle_records", "count", _.shuffleRecords.toDouble),
      ("shuffle_bytes", "bytes", _.shuffleBytes.toDouble),
      ("state_regressions", "count", _.stateRegressions.toDouble))
    val mrM = for {
      path <- MrPaths; keys <- MrKeys; (field, unit, f) <- mrFields
    } yield {
      val name = s"mr.$path.$keys"
      (s"$name.$field", med(warmOk.flatMap(_.find(_.name == name)).flatMap(_.mr).map(f)), unit)
    }
    val sinkCold = coldOk.filter(_.phases.contains("sink"))
    val sinkM = Seq(
      ("sink.write_s", s(sinkCold.map(_.phases("sink")).sum), "s"),
      ("sink.write_bytes", sinkCold.map(_.exec(OutputBytes)).sum.toDouble, "bytes"))
    val self = trace.selfTimes()
    val selfM = SelfLayers.map(l => (s"self.${l}_s", s(self.getOrElse(l, 0L)), "s"))
    def passS(os: Seq[Outcome]) = s(os.map(_.timeNs).sum)
    val overhead = med(warm.filter(_._2).map(p => passS(p._1.filter(_.ok)))) -
      med(warm.filterNot(_._2).map(p => passS(p._1.filter(_.ok))))
    val (items, stable) = countStability(workload, warm.map(_._1), codeId, seed, work)

    setupM ++ opsM ++ planM ++ execM ++ mrM ++
      Seq(("mr.pairs_per_s", pairsPerS, "1/s")) ++ sinkM ++ selfM ++ Seq(
        ("trace.overhead_s", overhead, "s"),
        ("counts.stable_ratio", stable.toDouble / math.max(1, items), "ratio"))
  }

  /** Items whose jobs, stages, tasks and shuffle records repeat exactly
    * on every warm pass of this run and, when an earlier traced run of the
    * same workload, seed and code left its counts in the build dir, in
    * that run too. Only these counts can back a later claim.
    */
  def countStability(workload: String, passes: Seq[Seq[Outcome]],
      codeId: Option[String], seed: Long, work: String): (Int, Int) = {
    def key(o: Outcome) = {
      val t = o.total
      s"${t(Jobs)},${t(Stages)},${t(Tasks)},${t(ShuffleRecords)}"
    }
    val byItem = passes.flatten.groupBy(_.name).toSeq.sortBy(_._1)
    val now = byItem.map { case (n, os) =>
      n -> (if (os.forall(_.ok) && os.map(key).distinct.size == 1) Some(key(os.head)) else None)
    }
    val file = codeId.map(id =>
      Paths.get(work).toAbsolutePath.getParent.resolve(s"counts_${workload}_${seed}_$id.tsv"))
    val before: Option[Map[String, String]] = file.filter(Files.isReadable(_)).map { f =>
      Files.readAllLines(f).toArray.toSeq.map(_.toString.split("\t"))
        .collect { case Array(n, k) => n -> k }.toMap
    }
    val stable = now.filter { case (n, k) =>
      k.isDefined && before.forall(_.get(n) == k)
    }.map(_._1).toSet
    val unstable = now.map(_._1).filterNot(stable)
    println(s"counts stable on ${stable.size} of ${now.size} items" +
      (if (before.isDefined) " (this run and the previous traced run of this seed and code)"
       else " (within this run)") +
      (if (unstable.isEmpty) "" else s"; not stable: ${unstable.mkString(" ")}"))
    file.foreach(f => Files.writeString(f,
      now.collect { case (n, Some(k)) => s"$n\t$k" }.mkString("", "\n", "\n")))
    (now.size, stable.size)
  }
}
