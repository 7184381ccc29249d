package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pins the plane-local 2× mean pool (`Plane.poolHalf`, the
  * [[graft.functions.PoolHalf]] expression and its kernel
  * `Plane.meanPool2x`) against a plain-Scala reference: ceil-halved
  * extents, edge blocks averaging the pixels that exist, null pixels
  * skipped like `avg` skips them, offsets halved like `y0 div 2`, and a
  * plan without a shuffle. */
class PoolHalfSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("scene_idx", IntegerType), StructField("scene_id", StringType),
    StructField("level", IntegerType), StructField("m", IntegerType),
    StructField("t", IntegerType), StructField("c", IntegerType),
    StructField("z", IntegerType), StructField("s", IntegerType),
    StructField("y0", IntegerType), StructField("x0", IntegerType),
    StructField("h", IntegerType), StructField("w", IntegerType),
    StructField("pixels", ArrayType(DoubleType, containsNull = true))))

  /** One plane row per (y0, x0, h, w, pixels), keyed by z; built from an
    * RDD so the optimizer cannot fold the pool into a local relation. */
  private def planes(ps: Seq[(Int, Int, Int, Int, Seq[Any])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ps.zipWithIndex.map { case ((y0, x0, h, w, px), z) =>
        Row(0, "Image:0", 0, 0, 0, 0, z, 0, y0, x0, h, w, px)
      }, 2), schema)

  /** The pool spelled out: row-major block order, nulls skipped, a block
    * without a value is null. */
  private def reference(px: Seq[Option[Double]], h: Int,
      w: Int): Seq[Option[Double]] =
    for (y <- 0 until (h + 1) / 2; x <- 0 until (w + 1) / 2) yield {
      val vs = for (yy <- 2 * y until math.min(2 * y + 2, h);
        xx <- 2 * x until math.min(2 * x + 2, w); v <- px(yy * w + xx)) yield v
      if (vs.isEmpty) None else Some(vs.foldLeft(0.0)(_ + _) / vs.size)
    }

  private def bits(v: Option[Double]): Option[Long] =
    v.map(java.lang.Double.doubleToRawLongBits)

  /** z → (level, y0, x0, h, w, pixels) of a pooled table. */
  private def collectPooled(df: DataFrame)
      : Map[Int, (Int, Int, Int, Int, Int, Seq[Option[Double]])] =
    df.select("z", "level", "y0", "x0", "h", "w", "pixels").collect().map { r =>
      r.getInt(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getSeq[Any](6).map {
          case null      => None
          case d: Double => Some(d)
        }))
    }.toMap

  /** [[collectPooled]] with pixels as their bits. */
  private def collectBits(df: DataFrame) =
    collectPooled(df).map { case (z, g) => z -> g.copy(_6 = g._6.map(bits)) }

  private def values(h: Int, w: Int): Seq[Double] =
    (0 until h * w).map(i => (i / w) * 0.1 + (i % w) / 3.0)

  private val extents = Seq((1, 1), (1, 7), (7, 1), (9, 11), (8, 6), (2, 2))

  test("poolHalf matches the plain-Scala reference bit for bit on 1x1, " +
      "1xN, Nx1, odd and even extents") {
    val in = extents.map { case (h, w) => (0, 0, h, w, values(h, w)) }
    val got = collectPooled(Plane.poolHalf(planes(in)))
    assert(got.keySet == in.indices.toSet)
    in.zipWithIndex.foreach { case ((_, _, h, w, px), z) =>
      val (level, _, _, h2, w2, out) = got(z)
      assert(level == 1)
      assert((h2, w2) == (((h + 1) / 2, (w + 1) / 2)), s"${h}x$w")
      val expect = reference(px.map(Some(_)), h, w)
      assert(out.map(bits) == expect.map(bits), s"${h}x$w")
      // the dense kernel the TIFF pyramid calls gives the same bits
      val (dense, dh, dw) = Plane.meanPool2x(px.toArray, h, w, 1)
      assert((dh, dw) == ((h2, w2)))
      assert(dense.toSeq.map(v => bits(Some(v))) == expect.map(bits))
    }
  }

  test("the dense kernel pools interleaved samples independently") {
    val (h, w, nS) = (5, 3, 3)
    val px = (0 until h * w * nS).map(i => i * 0.7 + 0.01).toArray
    val (out, h2, w2) = Plane.meanPool2x(px, h, w, nS)
    assert((h2, w2) == ((3, 2)))
    for (si <- 0 until nS) {
      val band = (0 until h * w).map(i => Some(px(i * nS + si)))
      val expect = reference(band, h, w)
      val got = (0 until h2 * w2).map(i => Some(out(i * nS + si)))
      assert(got.map(bits) == expect.map(bits), s"sample $si")
    }
  }

  test("odd tile offsets halve exactly like y0 div 2") {
    val offsets = Seq((0, 0), (1, 3), (3, 5), (7, 2), (5, 9), (-3, -1))
    val got = collectPooled(Plane.poolHalf(planes(offsets.map {
      case (y0, x0) => (y0, x0, 2, 2, Seq(1.0, 2.0, 3.0, 4.0))
    })))
    offsets.zipWithIndex.foreach { case ((y0, x0), z) =>
      assert((got(z)._2, got(z)._3) == ((y0 / 2, x0 / 2)), s"($y0,$x0)")
      assert(got(z)._6 == Seq(Some(2.5)))
    }
  }

  test("NaN pixels propagate to their block only") {
    val px = Seq(Double.NaN, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0)
    val out = collectPooled(Plane.poolHalf(planes(Seq((0, 0, 2, 4, px)))))(0)._6
    assert(out.head.exists(_.isNaN))
    assert(out(1) == Some((2.0 + 3.0 + 6.0 + 7.0) / 4))
  }

  test("a null or empty pixels array produces no output row") {
    val in = Seq((0, 0, 2, 2, null), (0, 0, 0, 0, Seq.empty[Any]),
      (0, 0, 2, 2, Seq(1.0, 2.0, 3.0, 4.0)))
    val got = collectPooled(Plane.poolHalf(planes(in)))
    assert(got.keySet == Set(2))
  }

  test("null pixels are skipped like avg skips them; a block of only " +
      "nulls pools to null") {
    // 3x3 → 2x2: block (0,0) has one null, block (0,1) only nulls
    val px: Seq[Any] = Seq(1.0, null, null, 4.0, 5.0, null, 7.0, 8.0, 9.0)
    val got = collectPooled(Plane.poolHalf(planes(Seq((0, 0, 3, 3, px)))))(0)
    val opt = px.map { case null => None; case d: Double => Some(d) }
    assert(got._6 == reference(opt, 3, 3))
    assert(got._6 == Seq(Some((1.0 + 4.0 + 5.0) / 3), None,
      Some((7.0 + 8.0) / 2), Some(9.0)))
  }

  test("a payload whose length is not h*w fails instead of pooling " +
      "garbage") {
    val err = intercept[Exception] {
      Plane.poolHalf(planes(Seq((0, 0, 2, 3, Seq(1.0, 2.0, 3.0, 4.0)))))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(err).exists(_.contains("expected 2x3")), err)
  }

  test("interpreted and generated evaluation agree") {
    val in = extents.map { case (h, w) => (1, 1, h, w, values(h, w)) } :+
      ((0, 0, 3, 3, Seq(1.0, null, null, 4.0, 5.0, null, 7.0, 8.0, 9.0)))
    def run(mode: String, wholeStage: Boolean) = {
      val keys = Seq("spark.sql.codegen.factoryMode",
        "spark.sql.codegen.wholeStage")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), mode)
      spark.conf.set(keys(1), wholeStage.toString)
      try {
        val df = Plane.poolHalf(planes(in))
        val plan = df.queryExecution.executedPlan.toString
        (collectBits(df), plan)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    val (interpreted, _) = run("NO_CODEGEN", wholeStage = false)
    val (generated, plan) = run("CODEGEN_ONLY", wholeStage = true)
    assert(plan.contains("*("), s"expected a whole-stage-codegen plan:\n$plan")
    assert(interpreted == generated)
    assert(interpreted.size == in.size)
  }

  test("poolHalf plans as one projection: no Exchange") {
    val plan = Plane.poolHalf(planes(Seq((0, 0, 2, 2, Seq(1.0, 2.0, 3.0, 4.0)))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("pyramid yields every level of iterated poolHalf from one scan; " +
      "empty planes keep only level 0") {
    val in = Seq((0, 0, 9, 11, values(9, 11)), (3, 5, 4, 4, values(4, 4)),
      (0, 0, 0, 0, Seq.empty[Any]))
    val src = planes(in)
    val pyr = Plane.pyramid(src, 3)
    val plan = pyr.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Union"), plan)
    // each level is pooled once, from the level before it
    val pools = pyr.queryExecution.optimizedPlan.flatMap(_.expressions
      .flatMap(_.collect { case p: graft.functions.PoolHalf => p }))
    assert(pools.size == 2, pyr.queryExecution.optimizedPlan)
    val byLevel = pyr.collect().groupBy(_.getAs[Int]("level"))
    assert(byLevel.keySet == Set(0, 1, 2))
    assert(byLevel(0).length == 3 && byLevel(1).length == 2 &&
      byLevel(2).length == 2)
    val l1 = Plane.poolHalf(src)
    val l2 = Plane.poolHalf(l1)
    for ((lvl, expect) <- Seq(0 -> src, 1 -> l1, 2 -> l2))
      assert(collectBits(pyr.filter(col("level") === lvl)) ==
        collectBits(expect), s"level $lvl")
    assert(pyr.columns.toSeq == src.columns.toSeq)
    assert(Plane.pyramid(src, 1) eq src)
  }
}
