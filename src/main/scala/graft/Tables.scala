package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * The reference engine's only "source" is a client-supplied in-memory
  * vector (reference `MapReduceClient.h:50,52`); here the sources are
  * columnar parquet scans so Catalyst gets pushdown + pruning for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet INT64 TIMESTAMP(NANOS) (which the vectorized
    * reader rejects — read as raw nanos via
    * `spark.sql.legacy.parquet.nanosAsLong` and truncate to micros, the
    * same truncation DuckDB applies) and plain TIMESTAMP(MICROS) (which
    * Spark reads as TIMESTAMP_NTZ). Normalize both to session-zone
    * TimestampType — the session zone is pinned to UTC, so NTZ→LTZ is a
    * relabel with identical micros values and oracle hashes are unchanged.
    */
  /** Analyzed-plan memo: `spark.read.parquet` re-lists the directory
    * and re-reads the footer for schema inference on EVERY call, and a
    * 556-query battery calls load ~2000 times over the same ten
    * immutable files. The memoized DataFrame is just the analyzed
    * logical plan — immutable, cache-independent (clearCache does not
    * touch it), and exactly what a catalog serves at scale instead of
    * per-query file listings. Registered with [[graft.ops.Artifacts]]
    * so `invalidate(dir)` drops the keys when a caller mutates a dir.
    */
  private val loaded =
    graft.ops.Artifacts.memo[DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    loaded.computeIfAbsent((spark, s"$sfDir#$name"),
      _ => ingest(spark, sfDir, name, load0(spark, sfDir, name)))

  /** Ingest-once re-layout of an under-parallel source file.
    *
    * The driver's testdata ships each table as ONE parquet file with ONE
    * row group — and a row group is the unit of scan parallelism, so
    * every query in the battery decodes its input on a single core of
    * 32 (measured: a bare noop scan of sf0.1 lineitem is ~450 ms — the
    * dominant term of the per-query floor). A lakehouse owns its
    * storage layout: ingest rewrites the same rows once per (session,
    * dir) into size-proportional multi-file parquet under /tmp
    * (train-once-probe-many, the same artifact contract as the graph
    * edge table and the IVF index), and every subsequent scan runs
    * ~n-way. At 100 TB this step is the ingest pipeline itself — real
    * deployments never serve queries off a single row group; the skip
    * condition below (already ≥ n files) makes this a no-op exactly
    * when the source is already scan-parallel. Values and schema are
    * byte-identical (the full sf0.01 DuckDB hash gate runs against the
    * ingested reads); row order changes, which the query contract
    * (total-order ORDER BY everywhere) makes invisible.
    */
  private def ingest(spark: SparkSession, sfDir: String, name: String,
      raw: DataFrame): DataFrame =
    ingest0(spark, sfDir, name, raw,
      s"/tmp/graft_ingest_${graft.ops.Artifacts.tag(sfDir)}_" +
        s"${graft.ops.Artifacts.sessionTag(spark)}")

  private[graft] def ingest0(spark: SparkSession, sfDir: String,
      name: String, raw: DataFrame, destRoot: String): DataFrame =
    try {
      val src = new java.io.File(s"$sfDir/$name.parquet")
      val bytes = if (src.isFile) src.length()
        else Option(src.listFiles()).map(_.filter(_.isFile).map(_.length()).sum)
          .getOrElse(0L)
      val nFiles = if (src.isFile) 1
        else Option(src.listFiles())
          .map(_.count(f => f.isFile && f.getName.endsWith(".parquet")))
          .getOrElse(1)
      // one output file per ~384 KB of source (snappy parquet decodes to
      // several× its size — this lands sf0.1 lineitem at ~28-way), capped
      // at 32 files whatever the core count; skip when the source is
      // already at least that parallel
      val n = math.max(1L, math.min(32L, bytes / 393216L)).toInt
      if (n <= nFiles) raw
      else {
        val dest = graft.ops.Artifacts.cleanupOnExit(s"$destRoot/$name")
        raw.repartition(n).write.mode("overwrite").parquet(dest)
        spark.read.parquet(dest)
      }
    } catch {
      // Fall back to the raw single-row-group scan ONLY on recoverable
      // failures (disk full under /tmp, permissions), and say so loudly:
      // a silently degraded layout triples the per-query scan floor and
      // would otherwise be indistinguishable from a code regression.
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] WARN: ingest re-layout of '$name' failed " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
            "falling back to the raw under-parallel scan")
        raw
    }

  private def load0(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = spark.read.parquet(s"$sfDir/events.parquet")
        val ts = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            expr("timestamp_micros(ts div 1000)")
          case _ => col("ts").cast("timestamp")
        }
        raw.select(
          col("event_id"), ts.as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      case _ =>
        spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Register every table as a temp view (for SQL-surface queries). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
