package perfbench

import graft.core.{Clients, JobHandle, MapReduceClient, MapReduceJob, Stage}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal

/** What one item did: its phase times (ns), counters per phase, and the
  * output it produced. `error` is set when it threw or its output did not
  * match; a failed item never contributes a time.
  */
final case class Outcome(
    name: String,
    phases: Map[String, Long],
    build: Counts,
    exec: Counts,
    rows: Long,
    digest: Long,
    mr: Option[MrPhases] = None,
    error: Option[String] = None) {
  def ok: Boolean = error.isEmpty
  def timeNs: Long = phases.values.sum
  def total: Counts = build + exec
}

/** Per-phase figures of one MapReduce job (times in ns). */
final case class MrPhases(mapNs: Long, reduceNs: Long, collectNs: Long,
    shuffleRecords: Long, shuffleBytes: Long, stateRegressions: Long)

/** Everything an item needs from the running session. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String,
    val cores: Int, val probe: Probe, val trace: Trace) {
  val sc = spark.sparkContext
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries
  def span[T](layer: String, name: String)(body: => T): (T, Long) =
    trace.span(layer, name, Probe.publish(sc, _))(body)
  def snapshot(): Counts = probe.snapshot(sc)
}

sealed trait Item {
  def name: String
  def run(ctx: Ctx): Outcome
}

object Digest {
  /** Executes `plan` (the item's own executed plan) as one SQL execution
    * and folds every output row into (row count, order-insensitive
    * digest): the sum of XXH64 over each row's UnsafeRow bytes.
    */
  def run(df: DataFrame, plan: SparkPlan): (Long, Long) = {
    val schema = plan.schema
    val parts = SQLExecution.withNewExecutionId(df.queryExecution, Some("perfbench")) {
      plan.execute().mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator.single((n, h))
      }.collect()
    }
    parts.foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) => (n + pn, h + ph) }
  }

  def hex(d: Long): String = java.lang.Long.toHexString(d)
}

/** A declared query: construction (`ops`), planning (`plan`), then its
  * executed plan run with the output digest folded in (`exec`).
  */
final case class QueryItem(name: String) extends Item {
  def run(ctx: Ctx): Outcome = {
    val c0 = ctx.snapshot()
    var phases = Map.empty[String, Long]
    var c1 = c0
    try {
      val ((rows, digest), _) = ctx.span("item", name) {
        val (df, tb) = ctx.span("ops", s"build $name")(ctx.queries(name)(ctx.spark, ctx.dir))
        phases += "ops" -> tb
        c1 = ctx.snapshot()
        val (plan, tp) = ctx.span("plan", s"plan $name")(df.queryExecution.executedPlan)
        phases += "plan" -> tp
        val (res, te) = ctx.span("exec", s"exec $name")(Digest.run(df, plan))
        phases += "exec" -> te
        res
      }
      val c2 = ctx.snapshot()
      Outcome(name, phases, c1 - c0, c2 - c1, rows, digest)
    } catch {
      case NonFatal(e) =>
        val c2 = ctx.snapshot()
        Outcome(name, phases, c1 - c0, c2 - c1, 0L, 0L,
          error = Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }
}

/** The z-order layout write (orders → z-value → range partition → sorted
  * parquet): construction (`ops`) then the parquet write (`sink`). Its
  * output is the written files, read back untimed for the check.
  */
final case class LayoutItem(name: String = "sink:zorder_layout") extends Item {
  def run(ctx: Ctx): Outcome = {
    val out = s"${ctx.work}/layout"
    val c0 = ctx.snapshot()
    var phases = Map.empty[String, Long]
    var c1 = c0
    try {
      ctx.span("item", name) {
        val (df, tb) = ctx.span("ops", s"build $name") {
          graft.ops.Relational.zorderRows(ctx.spark, ctx.dir)
            .repartitionByRange(ctx.cores, col("z"))
            .sortWithinPartitions("z")
        }
        phases += "ops" -> tb
        c1 = ctx.snapshot()
        val (_, tw) = ctx.span("sink", s"write $name") {
          df.write.mode("overwrite").parquet(out)
        }
        phases += "sink" -> tw
      }
      val c2 = ctx.snapshot()
      val back = ctx.spark.read.parquet(out)
      val (rows, digest) = Digest.run(back, back.queryExecution.executedPlan)
      ctx.snapshot()
      Outcome(name, phases, c1 - c0, c2 - c1, rows, digest)
    } catch {
      case NonFatal(e) =>
        val c2 = ctx.snapshot()
        Outcome(name, phases, c1 - c0, c2 - c1, 0L, 0L,
          error = Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }
}

/** The reference's test1 client with a summing reduce, which a map-side
  * combine needs (`Clients.ModHistogram` returns the group size, which is
  * 1 per key once pairs are pre-combined).
  */
final class SumHistogram(keys: Int)
    extends MapReduceClient[Int, Null, Int, Int, Int, Int] {
  def map(key: Int, value: Null): IterableOnce[(Int, Int)] =
    Iterator.single(math.floorMod(key, keys) -> 1)
  def reduce(key: Int, values: Iterable[Int]): IterableOnce[(Int, Int)] =
    Iterator.single(key -> values.sum)
}

/** Seeded non-negative ints, generated per partition so the expected
  * histogram can be recomputed in this JVM without collecting the input.
  */
final case class MrInput(seed: Long, parts: Int, perPart: Int) {
  def ints(p: Int): Iterator[Int] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + p)
    Iterator.fill(perPart)(r.nextInt(Int.MaxValue))
  }
  def pairs: Long = parts.toLong * perPart
  def rdd(spark: SparkSession): RDD[(Int, Null)] = {
    val self = this
    spark.sparkContext.parallelize(0 until parts, parts)
      .mapPartitionsWithIndex((p, _) => self.ints(p).map(i => (i, null)))
  }
  def histogram(keys: Int): Array[Long] = {
    val h = new Array[Long](keys)
    (0 until parts).foreach(p => ints(p).foreach(i => h(math.floorMod(i, keys)) += 1))
    h
  }
}

/** One MapReduce job: `path` ∈ {hash, combine, ordering} at `keys` keys,
  * timed from `start*` to `waitForJob`, with `JobHandle.state` polled
  * throughout (a non-monotone poll is a failed check).
  */
final case class MrItem(path: String, keyLabel: String, keys: Int,
    input: RDD[(Int, Null)], expected: Array[Long]) extends Item {
  def name: String = s"mr.$path.$keyLabel"

  def run(ctx: Ctx): Outcome = {
    val c0 = ctx.snapshot()
    try {
      val ((out, regressions, endNs, group), t) = ctx.span("mr", name) {
        val id = ctx.trace.current
        val parts = ctx.cores
        val h: JobHandle[Int, Int] = path match {
          case "hash" =>
            MapReduceJob.start(ctx.spark, input, new Clients.ModHistogram(keys), parts)
          case "combine" =>
            MapReduceJob.startCombining(ctx.spark, input, new SumHistogram(keys),
              (a: Int, b: Int) => a + b, parts)
          case "ordering" =>
            MapReduceJob.startOrderingOnly(ctx.spark, input,
              new Clients.ModHistogram(keys), parts)
        }
        ctx.trace.bindGroup(h.groupId, id)
        val poller = new Poller(h)
        poller.start()
        val out = h.waitForJob()
        val end = System.nanoTime()
        poller.finish()
        (out, poller.regressions, end, h.groupId)
      }
      val c1 = ctx.snapshot()
      val stages = ctx.probe.stagesOf(group)
      val phases = MrItem.phases(ctx.trace, stages, endNs, regressions)
      val got = new Array[Long](keys)
      var dup = false
      out.foreach { case (k, v) =>
        if (k < 0 || k >= keys || got(k) != 0) dup = true else got(k) = v.toLong
      }
      val err =
        if (regressions > 0) Some(s"$regressions non-monotone state polls")
        else if (dup || !java.util.Arrays.equals(got, expected))
          Some("histogram differs from the histogram of the same ints")
        else None
      Outcome(name, Map("mr" -> t), Counts.zero, c1 - c0, out.length.toLong,
        0L, Some(phases), err)
    } catch {
      case NonFatal(e) =>
        val c1 = ctx.snapshot()
        Outcome(name, Map.empty, Counts.zero, c1 - c0, 0L, 0L, None,
          Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }
}

object MrItem {
  /** map = union of every stage but the last (the sampling and emptiness
    * jobs of the ordering path included), reduce = the last stage,
    * collect = from the last stage's end to `waitForJob` returning.
    */
  def phases(trace: Trace, stages: Seq[StageRec], endNs: Long,
      regressions: Long): MrPhases = {
    val ms = 1000000L
    val sorted = stages.sortBy(_.stageId)
    val last = sorted.lastOption
    val maps = sorted.dropRight(1)
    MrPhases(
      Trace.union(maps.map(s => (s.startMs * ms, s.endMs * ms))),
      last.fold(0L)(s => (s.endMs - s.startMs) * ms),
      last.fold(0L)(s => math.max(0L, endNs - trace.msToNano(s.endMs))),
      stages.map(_.shuffleRecords).sum,
      stages.map(_.shuffleBytes).sum,
      regressions)
  }
}

/** Polls `JobHandle.state` every 5 ms on its own thread, counting polls
  * that go backwards (stage order, then percentage within a stage).
  */
final class Poller(h: JobHandle[_, _]) extends Thread("perfbench-poller") {
  setDaemon(true)
  @volatile private var done = false
  @volatile var regressions = 0L
  override def run(): Unit = {
    var last = (Stage.Undefined.id, 0f)
    while (!done) {
      val s = h.state
      val cur = (s.stage.id, s.percentage)
      if (cur._1 < last._1 || (cur._1 == last._1 && cur._2 < last._2))
        regressions += 1
      last = cur
      Thread.sleep(5)
    }
  }
  def finish(): Unit = { done = true; join() }
}
