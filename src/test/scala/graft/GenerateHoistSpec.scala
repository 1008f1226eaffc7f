package graft

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
import org.apache.spark.sql.functions._

import graft.core.ExecutedPlans
import graft.pipeline.{Curation, Similarity, TextFunctions => TF}

/** Per-row kernels must be evaluated below an explode, not beside it.
  *
  * A `select(kernel, explode(xs))` is analyzed into a Project ABOVE
  * the Generate, so the kernel runs once per exploded element instead
  * of once per input row. The trainers and the serving export project
  * the kernel first and explode afterwards; this spec captures every
  * optimized plan they execute and rejects any Project directly over
  * a Generate that computes a non-attribute expression from the
  * Generate's child columns alone.
  */
class GenerateHoistSpec extends SparkSpec {

  /** Expressions of `plan` that a Project over a Generate evaluates
    * per exploded element although they depend only on the input row.
    */
  private def perElementKernels(plan: LogicalPlan): Seq[String] =
    plan.collect { case Project(list, g: Generate) =>
      val rowCols = g.child.outputSet
      list.map {
        case Alias(e, _) => e
        case e => e
      }.filter(e => !e.isInstanceOf[Attribute] && e.references.nonEmpty &&
          e.references.subsetOf(rowCols))
        .map(e => s"${e.sql.take(160)} above ${g.generator.prettyName}")
    }.flatten

  /** Optimized plans of every query `body` executes. */
  private def captured(body: => Unit): Seq[LogicalPlan] =
    ExecutedPlans.capture(spark)(body).map(_.optimizedPlan)

  private def assertHoisted(name: String, plans: Seq[LogicalPlan]): Unit = {
    // non-vacuous: the run really executed plans with a Generate
    assert(plans.exists(_.exists(_.isInstanceOf[Generate])),
      s"$name: no executed plan contains a Generate")
    val bad = plans.flatMap(perElementKernels).distinct
    assert(bad.isEmpty,
      s"$name evaluates per-row kernels once per exploded element:\n" +
        bad.mkString("\n"))
  }

  private def emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")

  test("k-means Lloyd rounds assign each vector once, then explode") {
    // the SQL Lloyd step; kmeansTrain's rounds run as plain jobs over a
    // checkpoint and execute no Generate
    assertHoisted("kmeansUpdate", captured {
      Similarity.kmeansUpdate(emb, "vec_id", "embedding",
        col("vec_id") % 25 === 0).collect()
    })
  }

  test("LR gradient rounds score each document once, then explode") {
    val labeled = Curation.funnelLabels(
        spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text",
        profile = Curation.GateProfile.wordSalad)
      .select(col("doc_id"), col("cls"),
        explode(array_distinct(transform(TF.tokens(col("text")),
          t => TF.hash60(t) % 64))).as("bucket"))
    assertHoisted("Curation.lrWeights", captured {
      Curation.lrWeights(labeled, "doc_id", iters = 3, lrDen = 1)
    })
  }

  test("IVF-PQ serving export assigns each vector's cell once") {
    val tmp = java.nio.file.Files.createTempDirectory("hoist-export")
    assertHoisted("exportServingIndex", captured {
      Similarity.exportServingIndex(emb, "vec_id", "embedding",
        coarseFilter = col("vec_id") % 25 === 0,
        pqFilter = col("vec_id") < 8, m = 4, dim = 64, tmp.toString)
    })
  }
}
