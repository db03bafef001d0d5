package graft.plans

import graft.SparkSpec
import graft.functions.{Text, TextReference}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, LambdaFunction}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Pins the physical shape of the curation quality gate
  * `gopherRules(t)("pass") && c4Rules(t)("pass") && langId(t) === "en"`:
  * no lambda anywhere in the executed plan, and the `Filter` inside a
  * whole-stage-codegen stage. A higher-order function anywhere in a
  * filter condition makes the whole `Filter` interpreted (the former
  * compositions did that); this spec stops a refactor from bringing it
  * back unnoticed.
  */
class QualityGatePlanSpec extends SparkSpec {

  private def gate(gopher: Column, c4: Column, lang: Column): Column =
    gopher.getField("pass") && c4.getField("pass") && lang === "en"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
  }

  private def lambdas(p: SparkPlan): Seq[Expression] = {
    def isLambda(e: Expression): Boolean =
      e.isInstanceOf[HigherOrderFunction] || e.isInstanceOf[LambdaFunction]
    p.flatMap(_.expressions).flatMap(_.find(isLambda))
  }

  /** The plan's `FilterExec`s, and those inside a whole-stage-codegen
    * stage. */
  private def filters(p: SparkPlan): (Seq[FilterExec], Seq[FilterExec]) =
    (p.collect { case f: FilterExec => f },
      p.collect { case w: WholeStageCodegenExec =>
        w.child.collect { case f: FilterExec => f } }.flatten)

  test("the curation quality gate runs lambda-free inside whole-stage " +
      "codegen, and the former compositions did not") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("quality_gate_")
    try {
      val path = dir.resolve("docs").toString
      Seq("the cat sat on the mat today.\nwe walked to the store and back!",
          "- a\n- b", null).toDF("text").write.parquet(path)
      val docs = spark.read.parquet(path)
      val t = col("text")

      val plan = executed(docs.filter(
        gate(Text.gopherRules(t), Text.c4Rules(t), Text.langId(t))))
      assert(lambdas(plan).isEmpty, plan.toString)
      val (all, codegend) = filters(plan)
      assert(all.nonEmpty && codegend == all, plan.toString)
      assert(plan.collect { case f: FilterExec => f.condition }.exists(
        _.find(_.isInstanceOf[GopherRules]).isDefined), plan.toString)

      // the check has teeth: the reference compositions fail it
      val ref = executed(docs.filter(gate(TextReference.gopherRules(t),
        TextReference.c4Rules(t), TextReference.langId(t))))
      assert(lambdas(ref).nonEmpty, ref.toString)
      val (refAll, refCodegend) = filters(ref)
      assert(refAll.nonEmpty && refCodegend.isEmpty, ref.toString)
    } finally graft.pipeline.Fs.delete(spark, dir.toString)
  }
}
