package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Spark keeps generated classes in one JVM-wide cache; its default 100
  * entries are fewer than the plan shapes one pass of the battery
  * generates, so every warm query used to recompile. BenchConf sizes the
  * cache for the served plan set. These specs count compiles (Spark's
  * `CodegenMetrics`), never time them: after more than 100 other shapes
  * have run, running an earlier shape again must compile nothing.
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `df` through the noop sink, as Bench and perfbench do. */
  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Shape `i`: its literals are inlined into the generated code, so
    * each `i` compiles its own whole-stage class.
    */
  private def shape(i: Int): DataFrame = spark.range(64)
    .selectExpr(s"id * $i + ${7 * i} as x", s"id % ${i + 2} as g")
    .filter(s"x % ${i + 3} <> 1")

  private val Shapes = 150

  test(s"$Shapes generated plan shapes stay cached: re-running the first compiles nothing") {
    val before = compiles
    (1 to Shapes).foreach(i => run(shape(i)))
    assert(compiles - before > 100,
      s"the shapes compiled only ${compiles - before} classes — too few to overflow Spark's default cache")
    val warm = compiles
    (1 to 20).foreach(i => run(shape(i)))
    assert(compiles == warm,
      s"re-running 20 cached shapes compiled ${compiles - warm} classes")
  }

  test("declared queries stay cached across a sweep of other shapes") {
    val panel = Seq("q_groupby_sum", "q_pricing_summary", "q_simple_revenue",
      "q_large_orders", "q_p_chart")
    def pass(): Unit = panel.foreach(q => run(SparkEntry.queries(q)(spark, sfDir)))
    pass(); pass() // the second pass compiles what only a warm run plans
    (Shapes + 1 to 2 * Shapes).foreach(i => run(shape(i)))
    val warm = compiles
    pass()
    assert(compiles == warm,
      s"re-running ${panel.size} declared queries compiled ${compiles - warm} classes")
  }
}
