package graft.queries

import graft.Tables
import graft.core.linalg.PowerIteration
import graft.plans.GraftExtensions.kernel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed PCA over the embeddings table, split the way MLlib's
  * RowMatrix splits it: the cluster pays ONE `vec_gram` scan for the d×d
  * second-moment matrix (O(d²) mergeable partials, graft.plans.VecGramAgg),
  * the driver eigensolves the 64×64 result in microseconds
  * (PowerIteration.topK, deterministic), and the projection ships the
  * k×d component matrix back as a LITERAL in a narrow map — no shuffle,
  * no join, each row projected in place. This is the embedding
  * preprocessing stage for SemDeDup-style pipelines (cluster in a
  * compact, decorrelated space instead of the raw 64 dims).
  *
  * Uncentered PCA (second moment, not covariance): at this stage
  * pipelines typically L2-normalize rather than mean-center, and the
  * uncentered form keeps the cluster pass a single integer-exact
  * aggregate. The quantization used for the Gram sums (floor(x·4096))
  * introduces ≤ 2⁻¹² per-component bias, bounded in PcaSpec against the
  * float recompute.
  */
object Pca {

  final case class Model(
      n: Long, eigenvalues: Seq[Double], components: Seq[Seq[Double]]) {
    /** fraction of total second-moment mass captured by the k components */
    def explained(trace: Double): Double = eigenvalues.sum / trace
  }

  /** One cluster pass + driver eigensolve. */
  def fit(spark: SparkSession, dir: String, k: Int): (Model, Double) = {
    val packed = Tables.embeddings(spark, dir)
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 4096).cast("long")).as("qv"))
      .agg(kernel("vec_gram", col("qv"))).collect().head.getSeq[Long](0).toArray
    val (n, m) = PowerIteration.unpackGram(packed, 4096.0)
    val pairs = PowerIteration.topK(m, k)
    val trace = m.indices.map(i => m(i)(i)).sum
    (Model(n, pairs.map(_._1), pairs.map(_._2.toSeq)), trace)
  }

  /** Project `embedding` onto the model's components: adds `pc` (array of
    * k doubles). The component matrix travels as a literal — the plan is
    * scan → narrow map, nothing wide, any corpus size. */
  def project(df: DataFrame, model: Model): DataFrame = {
    val comps = model.components.map(c => typedLit(c))
    df.withColumn("pc", array(comps.map { c =>
      aggregate(zip_with(transform(col("embedding"), x => x.cast("double")), c,
        (a, b) => a * b), lit(0.0), (acc, x) => acc + x)
    }: _*))
  }
}
