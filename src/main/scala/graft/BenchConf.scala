package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The ONE session-config block every bench instrument shares, so the
  * battery, ScaleCheck and perfbench always time the same plans (r14 lesson:
  * five instruments each hand-copied the threshold).
  *
  * Every setting is SIZE-based, never machine-based — the same config
  * is correct at local[8], local[32] and on a 1000-executor cluster:
  *
  *   - '''Input-size-derived initial shuffle partitions''' (r15, guide
  *     §2.2 / round brief: "derive from input size rather than a
  *     constant tuned for either local mode or the cluster"). The r14
  *     setting `shuffle.partitions = $SPARK_GRAFT_CPUS` made every
  *     exchange fan out with the CORE COUNT, so per-task fixed
  *     overhead grew with cores: the r14 driver measured the full
  *     battery 27% faster at local[8] than local[32] (298 vs 411 s),
  *     and a per-stage task trace showed 32-way stages of a ~500 k-row
  *     query burning 20-40 s of summed task time against ≤1 s for the
  *     same stages 8-wide. Now: partitions = ceil(inputBytes / 2 MB)
  *     (sizing rationale + bracketing measurements on
  *     [[sizeDerivedPartitions]]), clamped to [1, 2^20]. sf0.1
  *     (17.5 MB) → 9; 100 TB → the 2^20 cap, which a real deployment
  *     would override per pipeline. The SAME value at every core
  *     count, so the driver's low-core scaling run compares cores,
  *     not partition layouts.
  *   - '''`shuffle.sort.bypassMergeThreshold = 0`''' (r15): with ≤200
  *     reduce partitions the default writer opens R files + R
  *     compressor streams per MAP task (the bypass-merge path), so
  *     cutting R with AQE still left M×R stream setups per exchange.
  *     Forcing 0 routes every exchange through the serialized
  *     (tungsten) sort writer — ONE file per map task — which is the
  *     path every R>200 production shuffle takes anyway; local plans
  *     now exercise the production writer. Measured (A/B min-of-3,
  *     graph family): −20-35% per query.
  *   - '''64 MB static `autoBroadcastJoinThreshold`''' (r14, measured
  *     545/629 faster): Spark's 10 MB default predates 100+ GiB
  *     executors; strictly size-based, so corpus-scaling sides fall
  *     back to shuffle at real SF, and the graph round loops pin
  *     themselves non-broadcast regardless (Graph.scala shuffle_hash
  *     hints).
  *   - '''`coalescePartitions.parallelismFirst=false`''' (r15, guide
  *     §2.2): the default TRUE overrides the advisory size with
  *     max(1 MB, total/parallelism) "to maximize parallelism" — a
  *     machine-derived partition count again. FALSE is the documented
  *     production recommendation: post-shuffle partition counts derive
  *     from DATA SIZE (the 64 MB advisory). Measured −6% on the
  *     slow-30 subset before the writer/partition changes above.
  *   - '''`preferSortMergeJoin=false` + 64 MB
  *     `maxShuffledHashJoinLocalMapThreshold`''' (r15, guide §3.1/§9):
  *     let the planner pick shuffled-hash when its size conditions
  *     hold and let AQE convert a planned sort-merge to shuffled-hash
  *     at runtime when every build partition measures ≤ 64 MB —
  *     removes both-side sorts without ever building a hash map over a
  *     partition that does not provably fit. Measured −9% slow-30,
  *     −8% cheap-20.
  */
object BenchConf {

  /** ceil(bytes(dir) / 2 MB) clamped to [1, 2^20] — one 64 MB-class
    * working-set partition per ~2 MB of source parquet: ~10× parquet→
    * row decode expansion at this schema mix, times the ~3× row-
    * multiplying intermediates (explodes, pair joins, unions) of the
    * analytic surface. Bracketed at sf0.1/local[32] (interleaved
    * min-of-2 over a 23-query heavy+cheap panel): 3
    * partitions regressed the quantile/sketch cluster 2-3× (too
    * little reduce-side parallelism for data-scale compute), 8 → 16 →
    * 32 within ±6% of each other once the tungsten writer and
    * advisory coalescing are on — so the formula targets the flat
    * region's low end. A missing or unreadable dir throws with its
    * path: sizing it as 0 bytes would silently run every exchange
    * single-partition.
    */
  def sizeDerivedPartitions(dir: String): Int = {
    val bytes =
      try {
        val s = Files.walk(Paths.get(dir))
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      } catch {
        case e @ (_: IOException | _: UncheckedIOException) =>
          throw new IllegalArgumentException(
            s"cannot size data dir $dir: $e", e)
      }
    val target = 2L << 20
    math.max(1L, math.min((bytes + target - 1) / target, 1L << 20)).toInt
  }

  def apply(b: SparkSession.Builder, dir: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions",
        sizeDerivedPartitions(dir).toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold",
        (64L * 1024 * 1024).toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // NOT adopted: 16 MB advisoryPartitionSizeInBytes measured −8%
      // on a 20-query A/B panel (quantile cluster −25%) but both
      // full-battery validation draws landed in a hot co-tenant window
      // (uniform ~1.3× geomean incl. untouched queries), so the
      // battery-level claim could not be proven — the r14 lesson is
      // exactly not to ship warm-probe-only wins. Candidate for the
      // next session, with the panel table in OPTIMIZATION_r15.md.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L * 1024 * 1024).toString)
}
