package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The float_dot kernel must be BIT-identical to the HOF fold it replaced —
  * same float→double widening, multiply, left-to-right accumulation — on
  * real embeddings and on adversarial values (denormals, huge/tiny mixes
  * where summation order matters). Also gates the codegen path (the parity
  * query runs inside whole-stage codegen) and the SQL registration. */
class VectorKernelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** The pre-kernel HOF formulation, kept verbatim as the reference. */
  private def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    aggregate(zip_with(x, y, (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("float_dot equals the HOF fold bit-for-bit on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val both = emb.crossJoin(emb.select(col("vec_id").as("id2"), col("embedding").as("e2"))
        .filter(col("id2") < 20))
      .select(
        graft.ops.Similarity.dot(col("embedding"), col("e2")).as("native"),
        hofDot(col("embedding"), col("e2")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("float_dot matches on adversarial magnitudes (order-sensitive sums)") {
    val rows = Seq(
      (Seq(1e30f, 1f, -1e30f, 1f), Seq(1f, 1f, 1f, 1f)),
      (Seq(Float.MinPositiveValue, 1e-30f, 3.4e38f), Seq(1f, 1f, 1f)),
      (Seq(-0.0f, 0.0f, 1.5f), Seq(0.0f, -0.0f, 2.5f))
    ).toDF("x", "y")
      .select(col("x").cast("array<float>").as("x"), col("y").cast("array<float>").as("y"))
    val got = rows.select(graft.ops.Similarity.dot(col("x"), col("y")).as("n"),
      hofDot(col("x"), col("y")).as("h")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("float_dot is registered as a SQL function") {
    GraftFunctions.registerKernels(spark)
    val v = spark.sql(
      "SELECT float_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d").collect()(0).getDouble(0)
    assert(v === 4.0)
  }

  test("null input yields null, like the HOF") {
    val df = Seq((Some(Seq(1.0f)), None: Option[Seq[Float]])).toDF("x", "y")
      .select(col("x").cast("array<float>").as("x"), col("y").cast("array<float>").as("y"))
    val r = df.select(graft.ops.Similarity.dot(col("x"), col("y")).as("d")).collect()(0)
    assert(r.isNullAt(0))
  }

  private def failsLoudly(run: => Any, message: String): Unit = {
    val e = intercept[Exception](run)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains(message)), e)
  }

  test("float_dot fails loudly on a length mismatch or a null element") {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    val xy = ArrayData.toArrayData(Array(1f, 2f))
    assert(VectorKernel.dotF(xy, xy) === 5.0)
    failsLoudly(VectorKernel.dotF(ArrayData.toArrayData(Array(1f, 2f, 3f)), xy), "lengths differ")
    failsLoudly(VectorKernel.dotF(new GenericArrayData(Array[Any](1f, null)), xy), "null vector element")
    failsLoudly(VectorKernel.dotF(xy, new GenericArrayData(Array[Any](null, 2f))), "null vector element")
    // unsafe arrays are checked a bitmap word at a time: a null in the
    // second word is still found, at its index
    val unsafe = ArrayData.toArrayData(new Array[Float](100))
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeArrayData]
    assert(VectorKernel.dotF(unsafe, unsafe) === 0.0)
    unsafe.setNullAt(70)
    failsLoudly(VectorKernel.dotF(unsafe, unsafe), "null vector element at index 70")
    // the generated path fails the task rather than truncating or reading 0.0
    def dots(x: Seq[Option[Float]], y: Seq[Option[Float]]) = Seq((x, y)).toDF("x", "y").repartition(1)
      .select(graft.ops.Similarity.dot(col("x").cast("array<float>"), col("y").cast("array<float>")))
      .collect()
    assert(dots(Seq(Some(1f), Some(2f)), Seq(Some(3f), Some(4f))).head.getDouble(0) === 11.0)
    failsLoudly(dots(Seq(Some(1f), Some(2f), Some(3f)), Seq(Some(1f), Some(2f))), "lengths differ")
    failsLoudly(dots(Seq(Some(1f), None), Seq(Some(1f), Some(2f))), "null vector element")
  }

  test("ivf_nearest_cell fails loudly on a dimension mismatch or a null element; a null vector is still null") {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    assert(IvfKernel.nearestCell(ArrayData.toArrayData(Array(0.9f, 0.8f)), cents) === 1)
    failsLoudly(IvfKernel.nearestCell(ArrayData.toArrayData(Array(0.9f)), cents), "centroid dimension")
    failsLoudly(IvfKernel.nearestCell(ArrayData.toArrayData(Array(0.9f, 0.8f, 5f)), cents),
      "centroid dimension")
    failsLoudly(IvfKernel.nearestCell(new GenericArrayData(Array[Any](0.9f, null)), cents),
      "null vector element")
    def cells(vs: Option[Seq[Float]]*) = vs.toDF("v").repartition(1)
      .select(org.apache.spark.sql.GraftColumnBridge.column(IvfNearestCellExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(col("v").cast("array<float>")), cents)))
      .collect()
    assert(cells(Some(Seq(0.9f, 0.8f))).head.getInt(0) === 1)
    assert(cells(None).head.isNullAt(0))
    failsLoudly(cells(Some(Seq(0.1f))), "centroid dimension")
  }

  /** The pre-kernel k-means assignment: an array of k interpreted integer
    * HOF folds + array_min + array_position, kept verbatim as reference. */
  private def hofAssign(q: org.apache.spark.sql.Column, cents: Seq[Array[Long]]) = {
    val dists = array(cents.map(c =>
      aggregate(zip_with(q, typedLit(c.toSeq), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v)): _*)
    struct(
      (array_position(dists, array_min(dists)) - 1).cast("long").as("cluster"),
      array_min(dists).as("dist_sq"))
  }

  test("kmeans_argmin equals the HOF argmin (values, tie-break, codegen path)") {
    // deterministic integer vectors, engineered collisions: vec 7 and 13
    // are EQUIDISTANT from centroids 0 and 1 (tie must break to index 0)
    val dim = 8
    val vecs = (0L until 64L).map { id =>
      (id, (0 until dim).map(i => graft.kg.Synth.splitmix64(id * 31 + i) % 1000L))
    }.toDF("vec_id", "q")
    val cents = IndexedSeq(
      Array.fill(dim)(100L), Array.fill(dim)(100L), // identical → always tied
      (0 until dim).map(i => (i * 57L) % 900L).toArray,
      (0 until dim).map(i => 999L - i * 13L).toArray)
    val kernel = org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.KmeansArgminExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(col("q")),
        cents.map(_.clone).toArray))
    val rows = vecs.select(col("vec_id"), kernel.as("k"), hofAssign(col("q"), cents).as("h"))
      .collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val (k, h) = (r.getStruct(1), r.getStruct(2))
      assert(k.getLong(0) === h.getLong(0), s"cluster mismatch for ${r.getLong(0)}")
      assert(k.getLong(1) === h.getLong(1), s"dist mismatch for ${r.getLong(0)}")
    }
    // the identical centroid pair proves ties break to the LOWEST index
    assert(rows.exists(_.getStruct(1).getLong(0) === 0L))
    assert(!rows.exists(_.getStruct(1).getLong(0) === 1L))
  }
}
