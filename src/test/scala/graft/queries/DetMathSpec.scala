package graft.queries

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import graft.SparkSpec
import graft.plans.DetLn

/** Accuracy pin for the deterministic ln kernel: within 2 ulp of
  * `Math.log` across the BM25-idf domain and the documented [1, 2^41)
  * range. Cross-ENGINE parity (the kernel's reason to exist) is proven by
  * the q127/q128 oracle gate; this spec proves the deterministic series is
  * also a CORRECT log, not just a reproducible one, and that the compiled
  * `det_ln` node is bit-identical to the `Column`-tree spelling it
  * replaced ([[DetMathSpec.treeLn]]) on both evaluation paths. */
class DetMathSpec extends SparkSpec {
  import DetMathSpec._

  private def ulpDiff(a: Double, b: Double): Long =
    math.abs(java.lang.Double.doubleToRawLongBits(a) -
      java.lang.Double.doubleToRawLongBits(b))

  private def check(xs: Seq[Double]): Unit = {
    import spark.implicits._
    val got = xs.toDF("x")
      .withColumn("lnx", DetMath.lnCol(col("x")))
      .collect()
      .map(r => r.getDouble(0) -> r.getDouble(1))
    got.foreach { case (x, lnx) =>
      val want = math.log(x)
      assert(ulpDiff(lnx, want) <= 2,
        s"ln($x): got $lnx want $want (${ulpDiff(lnx, want)} ulp)")
    }
  }

  test("exact anchor points") {
    import spark.implicits._
    val got = Seq(1.0, 2.0, 4.0, 1024.0).toDF("x")
      .withColumn("lnx", DetMath.lnCol(col("x"))).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got(1.0) == 0.0, "ln(1) must be exactly 0 (z = 0 kills the series)")
    assert(ulpDiff(got(2.0), math.log(2.0)) <= 1)
    assert(ulpDiff(got(1024.0), 10 * DetLn.Ln2) <= 2)
  }

  test("idf domain: x = 1 + (N - df + 0.5)/(df + 0.5) for N = 500") {
    val n = 500L
    check((1L to n).map(df => 1.0 + (n - df + 0.5) / (df + 0.5)))
  }

  test("range sweep incl. power-of-two boundaries up to 2^40") {
    val rng = new scala.util.Random(42)
    val sweep = (0 until 2000).map(_ => 1.0 + rng.nextDouble() * ((1L << 40) - 1))
    val boundaries = (1 to 40).flatMap { e =>
      val p = math.pow(2.0, e)
      Seq(p, math.nextUp(p), math.nextDown(p))
    }
    check(sweep ++ boundaries :+ math.nextUp(1.0))
  }

  test("det_ln is bit-identical to the Column-tree spelling on both " +
      "evaluation paths (codegen and interpreted), null -> null") {
    val xs = differentialInputs
    assert(xs.length >= 400000, s"only ${xs.length} inputs")
    val rows = spark.sparkContext.parallelize(
      xs.indices.map(i => Row(i, xs(i))), 4)
    // an RDD-backed frame: a LocalRelation would be evaluated by the
    // optimizer's interpreted constant folding on both paths
    def lnOf(s: SparkSession, ln: Column => Column): Array[Option[Long]] = {
      val out = new Array[Option[Long]](xs.length)
      s.createDataFrame(rows, Schema).select(col("i"), ln(col("x")))
        .collect().foreach { r =>
          out(r.getInt(0)) =
            if (r.isNullAt(1)) None
            else Some(java.lang.Double.doubleToLongBits(r.getDouble(1)))
        }
      out
    }
    val want = lnOf(spark, treeLn)
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      s.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      val got = lnOf(s, DetMath.lnCol)
      val bad = xs.indices.filter(i => got(i) != want(i))
      bad.headOption.foreach { i =>
        fail(s"$mode: ${bad.size} mismatches, first: x = ${xs(i)} " +
          s"det_ln ${got(i).map(java.lang.Double.longBitsToDouble)} " +
          s"tree ${want(i).map(java.lang.Double.longBitsToDouble)}")
      }
    }
  }

  test("lnCol works on a session where no extension was installed, and " +
      "SQL reaches the same node as det_ln once installed") {
    val bare = spark.newSession()
    assert(!bare.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("det_ln")))
    val got = bare.range(1).select(DetMath.lnCol(lit(2.0))).head().getDouble(0)
    assert(ulpDiff(got, math.log(2.0)) <= 1)
    graft.plans.GraftExtensions.install(bare)
    assert(bare.sql("SELECT det_ln(2.0D)").head().getDouble(0) == got)
  }

  test("out of domain: x = -1 is -Infinity and never raises (the tree " +
      "divided by zero there and failed under ANSI)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    val rows = s.range(1).select(
      DetMath.lnCol(lit(-1.0)).as("ln"),
      DetMath.lnCol(lit(Double.NaN)).as("nan"),
      DetMath.lnCol(lit(null).cast(DoubleType)).as("nul")).head()
    assert(rows.getDouble(0) == Double.NegativeInfinity)
    assert(rows.getDouble(1).isNaN)
    assert(rows.isNullAt(2))
    val err = intercept[Exception](
      s.range(1).select(treeLn(col("id").cast(DoubleType) - lit(1.0))).collect())
    assert(err.getMessage.contains("DIVIDE_BY_ZERO"), err.getMessage)
  }
}

object DetMathSpec {
  private val Schema = StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = true)))

  /** The `Column`-tree spelling `DetMath.lnCol` had before the compiled
    * node: the reference the differential test holds `det_ln` to. Every
    * reference to `m`, `z` and `z2` re-expands its whole subtree, which is
    * why the idf projection it produced was 17,925 expression nodes. */
  def treeLn(x: Column): Column = {
    val e = (1 to 40)
      .map(i => when(x >= lit(math.pow(2.0, i)), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    val scale = (1 to 40)
      .map(i => when(x >= lit(math.pow(2.0, i)), lit(2.0)).otherwise(lit(1.0)))
      .reduce(_ * _)
    val m = x / scale
    val z = (m - lit(1.0)) / (m + lit(1.0))
    val z2 = z * z
    val s = DetLn.SeriesCoeffs.init.foldRight(lit(DetLn.SeriesCoeffs.last): Column)(
      (c, acc) => lit(c) + z2 * acc)
    e.cast("double") * lit(DetLn.Ln2) + lit(2.0) * z * s
  }

  /** ≥ 400k inputs: the BM25-idf domain x = 1 + (N − df + 0.5)/(df + 0.5)
    * (every df for the smaller collections, 20k draws for the largest),
    * 200k uniform draws over [1, 2^40) and 200k over [1, 16], every
    * power-of-two boundary, and the out-of-domain points the tree
    * evaluates without failing (NaN, ±0, −2, ±Infinity) plus null. */
  lazy val differentialInputs: Array[java.lang.Double] = {
    val rng = new scala.util.Random(7)
    def idf(n: Long, df: Long): Double =
      1.0 + ((n - df).toDouble + 0.5) / (df.toDouble + 0.5)
    val idfDomain =
      Seq(50L, 500L, 1500L, 5000L, 59420L).flatMap(n => (1L to n).map(idf(n, _))) ++
        (0 until 20000).map(_ => idf(594020L, 1L + rng.nextInt(594020)))
    val wide = (0 until 200000).map(_ => 1.0 + rng.nextDouble() * ((1L << 40) - 1))
    val narrow = (0 until 200000).map(_ => 1.0 + rng.nextDouble() * 15.0)
    val boundaries = (1 to 41).flatMap { e =>
      val p = math.pow(2.0, e)
      Seq(p, math.nextUp(p), math.nextDown(p))
    }
    val special = Seq(Double.NaN, 0.0, -0.0, -2.0, 0.5, 1.0, math.nextUp(1.0),
      Double.PositiveInfinity, Double.NegativeInfinity)
    ((idfDomain ++ wide ++ narrow ++ boundaries ++ special)
      .map(d => java.lang.Double.valueOf(d)) :+ (null: java.lang.Double)).toArray
  }
}
