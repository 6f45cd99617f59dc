package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  private lazy val pairs = {
    val rng = new scala.util.Random(7)
    (Seq(
      (Array.fill(64)(rng.nextFloat()), Array.fill(64)(rng.nextDouble())),
      (Array.fill(64)(0.0f), Array.fill(64)(rng.nextDouble())), // zero norm
      (Array(1.0f, 2.0f), Array(3.0, 4.0)),
    )).toDF("a", "b")
  }

  /** The HOF spelling both expressions replaced. */
  private def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    try_divide(dot(a, b), sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("native cosine is bit-identical to the HOF spelling (incl. zero-norm NULL)") {
    val ad = transform(col("a"), x => x.cast("double"))
    val rows = pairs.select(
      VectorOps.cosineSim(ad, col("b")).as("native"),
      hofCosine(ad, col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)),
          s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
    assert(rows.exists(_.isNullAt(0)), "zero-norm row must be NULL")
  }

  test("float arrays are accepted directly and widen exactly like cast+HOF") {
    val viaCast = pairs.select(VectorOps.dotProduct(
      transform(col("a"), x => x.cast("double")), col("b"))).collect().map(_.getDouble(0))
    val direct = pairs.select(VectorOps.dotProduct(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(viaCast.zip(direct).forall { case (x, y) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y) })
  }

  test("codegen and interpreted paths agree") {
    val on = pairs.select(VectorOps.cosineSim(col("a"), col("b"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = pairs.select(VectorOps.cosineSim(col("a"), col("b"))).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      assert(on.toSeq == off.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  private lazy val withNullSlots = Seq(
    (Seq[Option[Double]](Some(1.0), None, Some(3.0)),
      Seq[Option[Double]](Some(1.0), Some(2.0), Some(3.0))),
    (Seq[Option[Double]](Some(1.0), Some(2.0)),
      Seq[Option[Double]](Some(3.0), Some(4.0))),
  ).toDF("a", "b")

  test("null element slots propagate NULL, matching the HOF twin") {
    val rows = withNullSlots.select(
      VectorOps.dotProduct(col("a"), col("b")).as("nd"),
      VectorOps.cosineSim(col("a"), col("b")).as("nc"),
      hofCosine(col("a"), col("b")).as("hc")).collect()
    // row 0 carries a null slot: every spelling must yield NULL (the
    // round-2 expressions read the slot as garbage instead)
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1) && rows(0).isNullAt(2))
    // row 1 is null-free: values unaffected by the guards
    assert(rows(1).getDouble(0) == 11.0)
    assert(java.lang.Double.doubleToLongBits(rows(1).getDouble(1)) ==
      java.lang.Double.doubleToLongBits(rows(1).getDouble(2)))
  }

  test("null-slot handling agrees between codegen and interpreted paths") {
    def run() = withNullSlots.select(
      VectorOps.dotProduct(col("a"), col("b")),
      VectorOps.cosineSim(col("a"), col("b"))).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
    val on = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(on == run())
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL registration") {
    val r = spark.sql(
      "SELECT dot_product(array(CAST(1.0 AS DOUBLE), 2.0), array(CAST(3.0 AS DOUBLE), 4.0))")
      .collect().head.getDouble(0)
    assert(r == 11.0)
    // a missing argument is the arity message, not an index error
    val err = intercept[Exception](spark.sql("SELECT dot_product(array(1.0))").collect())
    val msgs = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("dot_product(array<float>, array<float>)"), msgs)
  }

  test("hyperplaneBuckets is bit-identical to the per-(table,plane) " +
      "DotProduct subtree spelling") {
    import org.apache.spark.sql.Column
    val rng = new scala.util.Random(13)
    val dim = 16
    val vecs = (Seq(
      Array.fill(dim)(rng.nextFloat()),
      Array.fill(dim)(rng.nextFloat()),
      Array.fill(dim)(0.0f), // all-zero: every dot == 0, no bit set
      Array.fill(8)(rng.nextFloat()), // shorter than dim
      null, // NULL vector: all-zero buckets, row survives
    )).toDF("e")
    for ((tables, planes) <- Seq((12, 4), (3, 5), (1, 0))) {
      val hyper = {
        val r = new java.util.Random(42L)
        Array.fill(tables, planes, dim)(r.nextGaussian())
      }
      def dot(v: Column, plane: Array[Double]): Column =
        VectorOps.dotProduct(v, array(plane.toIndexedSeq.map(lit): _*))
      def bucketOf(t: Int): Column = (0 until planes).map { p =>
        when(dot(col("e"), hyper(t)(p)) > 0, lit(1L << p)).otherwise(lit(0L))
      }.foldLeft(lit(0L))((a, b) => a.bitwiseOR(b))
      val legacy = vecs.select(
        array((0 until tables).map(bucketOf): _*).as("bs")).collect()
        .map(_.getSeq[Long](0))
      val fused = vecs.select(
        VectorOps.hyperplaneBuckets(col("e"), hyper).as("bs")).collect()
        .map(_.getSeq[Long](0))
      assert(legacy.toSeq == fused.toSeq,
        s"bucket mismatch at tables=$tables planes=$planes")
    }
  }

  test("subspaceDots/subspaceSelfDots are bit-identical to the legacy " +
      "dot(slice(...)) subtree spelling (incl. short and null-element vectors)") {
    import org.apache.spark.sql.Column
    val m = 4; val cb = 3; val sub = 4; val dim = m * sub
    val rng = new scala.util.Random(17)
    val books = {
      val r = new java.util.Random(99L)
      Array.fill(m, cb, sub)(r.nextGaussian())
    }
    val vecs = Seq(
      Seq.fill[java.lang.Double](dim)(rng.nextDouble()),
      Seq.fill[java.lang.Double](6)(rng.nextDouble()),    // short: tail subspaces empty
      Seq[java.lang.Double](1.0, null, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0,
        9.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0),   // null slot in subspace 0
      null,                                               // NULL vector
    ).toDF("e")
    def legacyDot(j: Int, c: Int): Column =
      VectorOps.dotProduct(slice(col("e"), j * sub + 1, sub),
        array(books(j)(c).toIndexedSeq.map(lit): _*))
    val legacy = vecs.select(array((for (j <- 0 until m; c <- 0 until cb)
      yield legacyDot(j, c)): _*).as("d")).collect()
      .map(r => r.getSeq[Any](0))
    val fused = vecs.select(
      VectorOps.subspaceDots(col("e"), books).as("d")).collect()
      .map(r => r.getSeq[Any](0))
    assert(legacy.map(_.map(Option(_))).toSeq == fused.map(_.map(Option(_))).toSeq)
    legacy.zip(fused).foreach { case (l, f) =>
      l.zip(f).foreach {
        case (x: java.lang.Double, y: java.lang.Double) =>
          assert(java.lang.Double.doubleToLongBits(x) ==
            java.lang.Double.doubleToLongBits(y))
        case (x, y) => assert(x == null && y == null)
      }
    }
    val legacySelf = vecs.select(array((0 until m).map(j =>
      VectorOps.dotProduct(slice(col("e"), j * sub + 1, sub),
        slice(col("e"), j * sub + 1, sub))): _*).as("d")).collect()
      .map(_.getSeq[Any](0).map(Option(_)))
    val fusedSelf = vecs.select(
      VectorOps.subspaceSelfDots(col("e"), m, sub).as("d")).collect()
      .map(_.getSeq[Any](0).map(Option(_)))
    assert(legacySelf.toSeq == fusedSelf.toSeq)
  }

  test("array-param expressions compare by VALUE, so CSE/ReuseExchange " +
      "can unify separately built instances") {
    def mk() = {
      val r = new java.util.Random(42L)
      Array.fill(2, 3, 4)(r.nextGaussian())
    }
    import org.apache.spark.sql.graft.ColumnBridge
    val c = ColumnBridge.expression(col("e"))
    assert(HyperplaneBuckets(c, mk()) == HyperplaneBuckets(c, mk()))
    assert(HyperplaneBuckets(c, mk()).hashCode ==
      HyperplaneBuckets(c, mk()).hashCode)
    assert(SubspaceDots(c, mk()) == SubspaceDots(c, mk()))
    assert(SubspaceDots(c, mk()).hashCode == SubspaceDots(c, mk()).hashCode)
    val other = mk(); other(0)(0)(0) += 1.0
    assert(HyperplaneBuckets(c, mk()) != HyperplaneBuckets(c, other))
    assert(SubspaceDots(c, mk()) != SubspaceDots(c, other))
  }

  test("hyperplaneBuckets null-element vector yields all-zero buckets " +
      "(the when/otherwise collapse), identically in both eval modes") {
    val hyper = {
      val r = new java.util.Random(42L)
      Array.fill(4, 3, 4)(r.nextGaussian())
    }
    val df = Seq(
      (1L, Seq[java.lang.Float](1.0f, null, 2.0f, 3.0f)),
      (2L, Seq[java.lang.Float](1.0f, 2.0f, 3.0f, 4.0f)),
    ).toDF("id", "e")
    def run() = df.select(col("id"),
      VectorOps.hyperplaneBuckets(col("e"), hyper).as("bs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val on = run()
    assert(on.find(_._1 == 1L).get._2 == Seq(0L, 0L, 0L, 0L))
    assert(on.find(_._1 == 2L).get._2.exists(_ != 0L))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(on == run())
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
