package graft.core

import java.util.Random

import org.scalatest.funsuite.AnyFunSuite

class Lcg48Spec extends AnyFunSuite {

  private val seeds: Seq[Long] =
    Seq(0L, 1L, -1L, 42L, Long.MinValue, Long.MaxValue, 0x5DEECE66DL, 1L << 48) ++
      { val r = new Random(7); Seq.fill(200)(r.nextLong()) }

  /** Interleaved draws of every kind the GA kernels and their callers
    * make, with a reseed part-way, from one generator. */
  private def draws(rng: Random, reseed: Long): Seq[Any] = {
    def block(k: Int): Seq[Any] = (0 until 250).flatMap { i =>
      (i + k) % 5 match {
        case 0 => Seq[Any](rng.nextLong())
        case 1 => Seq[Any](rng.nextDouble())
        case 2 => Seq[Any](rng.nextInt(1 + i * 37))
        case 3 => Seq[Any](rng.nextBoolean(), rng.nextInt())
        case _ => Seq[Any](rng.nextLong(), rng.nextDouble(), rng.nextGaussian())
      }
    }
    val before = block(0)
    rng.setSeed(reseed)
    before ++ block(3)
  }

  test("Lcg48 draws java.util.Random's sequence, seed for seed, across a reseed") {
    seeds.zip(seeds.reverse).foreach { case (seed, reseed) =>
      val (lcg, jur) = (draws(new Lcg48(seed), reseed), draws(new Random(seed), reseed))
      val firstDiff = lcg.zip(jur).indexWhere { case (a, b) => a != b }
      assert(firstDiff < 0 && lcg.size == jur.size,
        s"seed $seed, reseed $reseed: draw $firstDiff differs")
    }
  }
}
