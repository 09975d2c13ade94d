package graft.segment

import java.nio.file.Paths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, UnixMicros}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.{SparkEntry, SparkSpec}
import graft.api.{FeatureCollection, FeatureDescriptor, KeyedFeatures}
import graft.core._

/** Pins the regular-stride window assignment inside whole-stage codegen.
  * The replaced `transform(sequence(kmin, kmax), …)` form was a
  * higher-order function (a `CodegenFallback`), so its `Generate` fell out
  * of codegen and every row's k-range ran interpreted with boxed longs —
  * visible only as an unattributed slowdown. Here the executed (AQE-final)
  * plans of q01 (one stride) and q04 (two strides) must put every
  * `Generate` inside a codegen stage with no higher-order function in its
  * subtree, so a refactor that brings one back fails by name.
  *
  * Also pins the index conversion to one evaluation per row (the null
  * filter reads the source column, so no `Filter` converts the index) and
  * the named rejection of non-positive windows and strides and of
  * infinite segmentation bounds.
  */
class AssignCodegenSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  // the sf0.001 corpus the plan-shape specs read
  private val dir =
    Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString

  /** The nodes of one codegen stage: the stage's child tree down to its
    * `InputAdapter` boundaries. */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case _ => p +: p.children.flatMap(stageNodes)
  }

  private def executedPlan(name: String): SparkPlan = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.toRdd.count() // settle AQE's final plan
    df.queryExecution.executedPlan
  }

  for (name <- Seq("q01_roll_mean", "q04_multi_stride")) {
    test(s"$name: the assignment Generate is whole-stage code-generated") {
      val plan = executedPlan(name)
      val gens = collect(plan) { case g: GenerateExec => g }
      assert(gens.nonEmpty, s"no Generate in\n$plan")
      val staged = collect(plan) { case w: WholeStageCodegenExec =>
        stageNodes(w.child) }.flatten
      gens.foreach { g =>
        assert(staged.exists(_ eq g),
          s"Generate outside whole-stage codegen:\n$g\nin\n$plan")
        val hofs = collect(g) { case n => n }.flatMap(_.expressions
          .flatMap(_.collect { case h: HigherOrderFunction => h }))
        assert(hofs.isEmpty, s"higher-order function in the assignment: " +
          hofs.mkString(", "))
      }
    }
  }

  test("q01: no Filter converts the index (one conversion per row)") {
    val plan = executedPlan("q01_roll_mean")
    val converting = collect(plan) { case f: FilterExec
      if f.condition.exists(_.isInstanceOf[UnixMicros]) => f }
    assert(converting.isEmpty, converting.mkString("\n"))
  }

  test("non-positive strides and windows, and infinite bounds, are " +
    "rejected by name") {
    import spark.implicits._
    val df = (0 until 20).map(i => (i.toLong, i.toDouble)).toDF("t", "v")
    val s = Series("v", df, "t", "v")
    def calc(w: Win, st: Win): DataFrame =
      FeatureCollection(FeatureDescriptor(FeatureFuncs.sum, "v",
        Some(w), Some(Seq(st)))).calculate(Seq(s))
    // unchecked, a zero stride overflows nbSegments to an empty grid: an
    // empty frame without a word
    for (st <- Seq(Win.seq(0L), Win.seq(-2L), Win.seq(Double.NaN))) {
      val e = intercept[IllegalArgumentException](calc(Win.seq(4L), st))
      assert(e.getMessage.contains("stride must be positive"), e.getMessage)
    }
    for (w <- Seq(Win.seq(0L), Win.seq(-4L))) {
      val e = intercept[IllegalArgumentException](calc(w, Win.seq(1L)))
      assert(e.getMessage.contains("window must be positive"), e.getMessage)
    }
    // the TIME-domain spelling from the report: "0h" parses to 0 µs
    val ts = df.select(org.apache.spark.sql.functions.timestamp_seconds($"t")
      .as("t"), $"v")
    val e = intercept[IllegalArgumentException](
      FeatureCollection(FeatureDescriptor(FeatureFuncs.sum, "v",
        Some(Win.time("1h")), Some(Seq(Win.time("0h")))))
        .calculate(Seq(Series("v", ts, "t", "v"))))
    assert(e.getMessage.contains("stride must be positive"), e.getMessage)
    // an infinite index makes the span infinite: an unbounded grid
    val inf = Series("v", Seq((0.0, 1.0), (Double.PositiveInfinity, 2.0))
      .toDF("t", "v"), "t", "v")
    val e2 = intercept[IllegalArgumentException](
      FeatureCollection(FeatureDescriptor(FeatureFuncs.sum, "v",
        Some(Win.seq(4L)), Some(Seq(Win.seq(1L))))).calculate(Seq(inf)))
    assert(e2.getMessage.contains("bounds must be finite"), e2.getMessage)
    // the keyed API builds the same kernel and fails the same way
    val keyed = df.withColumn("k", org.apache.spark.sql.functions.lit(1))
    for ((w, st) <- Seq((Win.seq(4L), Win.seq(0L)), (Win.seq(-4L), Win.seq(1L))))
      intercept[IllegalArgumentException](KeyedFeatures.calculate(keyed, "k",
        "t", "v", w, Seq(st), Seq(FeatureFuncs.sum), "v"))
  }
}
