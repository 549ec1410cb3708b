package perfbench

/** What the seed commit's engine did with one item at the benchmark's
  * data: output rows and digest, construction jobs on first touch and on
  * a repeat (which sorts queries into the two query workloads), and its
  * cold and warm times (which pick the consumers the `queries` workload
  * runs and order its strata of plain queries).
  */
final case class Rec(name: String, exempt: Boolean, rows: Long, digest: Long,
    coldBuildJobs: Long, warmBuildJobs: Long, coldMs: Long, warmMs: Long) {
  private def query = name.startsWith("q_") && rows >= 0
  /** Builds an artifact on first touch that a repeat reuses. */
  def consumer: Boolean = query && warmBuildJobs < coldBuildJobs
  def plain: Boolean = query && warmBuildJobs == coldBuildJobs
}

object Expected {
  val Header =
    "name\texempt\trows\tdigest\tcold_build_jobs\twarm_build_jobs\tcold_ms\twarm_ms"

  def line(r: Rec): String =
    Seq(r.name, if (r.exempt) "1" else "0", r.rows.toString, Digest.hex(r.digest),
      r.coldBuildJobs.toString, r.warmBuildJobs.toString, r.coldMs.toString,
      r.warmMs.toString)
      .mkString("\t")

  def load(path: String): Map[String, Rec] = {
    val f = new java.io.File(path)
    if (!f.canRead) throw new Main.Refuse(s"recorded outputs $path are not readable")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().drop(1).filter(_.nonEmpty).map { l =>
      val c = l.split("\t")
      c(0) -> Rec(c(0), c(1) == "1", c(2).toLong,
        java.lang.Long.parseUnsignedLong(c(3), 16), c(4).toLong, c(5).toLong,
        c(6).toLong, c(7).toLong)
    }.toMap
    finally src.close()
  }
}

/** Records the expected file from the engine at hand: every declared
  * query, then the layout write, each run cold and then warm in one
  * session. Whenever an item's construction ran fewer jobs warm than cold
  * (it memoized an artifact), the data dir's artifacts are dropped and the
  * tables loaded again (untimed) before the next item, so "cold" means
  * first touch in a fresh session whatever ran before: a query that shares an artifact with a sibling
  * counts as a consumer too. An item that fails, or whose two outputs
  * differ, is recorded with rows -1 and left out of every workload.
  */
object Record {
  def run(a: Main.Args, out: String, entry: Long): Int = {
    val dir = a("data")
    val work = a("work")
    Main.checkData(dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
    val trace = new Trace
    val probe = new Probe(trace)
    val s = Main.setup(dir, work, probe, trace, entry, sessionOnly = false, 1)
    val ctx = new Ctx(s.spark, dir, work, Main.cores, probe, trace)
    val oracle = graft.SparkEntry.oracleSql.keySet
    val items: Seq[Item] = ctx.queries.keys.toSeq.sorted.map(QueryItem(_)) :+ LayoutItem()
    var reset = false
    val recs = items.zipWithIndex.map { case (it, i) =>
      def once() = { s.spark.catalog.clearCache(); it.run(ctx) }
      if (reset) {
        graft.ops.Artifacts.invalidate(dir)
        graft.Tables.all.foreach(graft.Tables.load(s.spark, dir, _))
      }
      val c = once()
      val w = once()
      reset = c.build(Counts.Jobs) > w.build(Counts.Jobs)
      val exempt = it.isInstanceOf[QueryItem] && !oracle(it.name)
      val bad = c.error.orElse(w.error).orElse(
        if (c.rows != w.rows || (!exempt && c.digest != w.digest))
          Some("cold and warm outputs differ") else None)
      bad.foreach(e => System.err.println(s"[record] ${it.name}: $e"))
      System.err.println(f"[record] ${i + 1}/${items.size} ${it.name} " +
        f"cold ${c.timeNs / 1e9}%.2fs warm ${w.timeNs / 1e9}%.2fs " +
        s"build jobs ${c.build(Counts.Jobs)}/${w.build(Counts.Jobs)}")
      Rec(it.name, exempt, if (bad.isDefined) -1L else w.rows, w.digest,
        c.build(Counts.Jobs), w.build(Counts.Jobs), c.timeNs / 1000000L,
        w.timeNs / 1000000L)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      (Expected.Header +: recs.map(Expected.line)).mkString("", "\n", "\n"))
    s.spark.stop()
    0
  }
}
