package graft.cga

import org.scalacheck.{Gen, Prop, Properties}
import graft.SparkSpec

/** SURVEY §5.2: the cGA update moves each bit toward the winner by
  * exactly delta (where winner and loser disagree) and leaves it
  * untouched otherwise. Driver-side replica of CgaReference.update's per-bit
  * rule, cross-checked against the Spark implementation on a sampled
  * subset (the full Spark path is covered in CgaSpec; the property
  * here exercises the arithmetic over the whole input space). */
object CgaProps extends Properties("CgaUpdate") {

  private def updateBit(p: Double, wb: Int, lb: Int, delta: Double): Double =
    if (wb == lb) p
    else math.min(1.0, math.max(0.0, p + (if (wb == 1) delta else -delta)))

  private val genCase = for {
    p <- Gen.chooseNum(0.0, 1.0)
    wb <- Gen.oneOf(0, 1)
    lb <- Gen.oneOf(0, 1)
    pop <- Gen.chooseNum(2L, 1000L)
  } yield (p, wb, lb, pop)

  property("moves toward winner by exactly delta, clamped") =
    Prop.forAll(genCase) { case (p, wb, lb, pop) =>
      val delta = 1.0 / pop
      val next = updateBit(p, wb, lb, delta)
      if (wb == lb) next == p
      else if (wb == 1) next == math.min(1.0, p + delta)
      else next == math.max(0.0, p - delta)
    }

  property("spark update matches the driver-side replica bit-for-bit") = {
    val spark = SparkSpec.session
    import spark.implicits._
    Prop.forAll(Gen.listOfN(8, Gen.chooseNum(0.0, 1.0)), Gen.chooseNum(0L, 255L),
      Gen.chooseNum(0L, 255L), Gen.chooseNum(2L, 100L)) { (probs, w, l, pop) =>
      val cfg = CgaConfig(nBits = 8, numSplits = 1, tournamentSize = 2,
        population = pop)
      val ss = spark.createDataset(Seq(
        SampledSplit(0L, probs.toArray, Array(Array(w), Array(l)))))
      val (vec, _) = CgaReference.update(ss, 0, 1, cfg).collect().head
      val expect = probs.zipWithIndex.map { case (p, b) =>
        updateBit(p, ((w >> b) & 1L).toInt, ((l >> b) & 1L).toInt, cfg.delta)
      }
      vec.probs.toSeq == expect
    }
  }
}
