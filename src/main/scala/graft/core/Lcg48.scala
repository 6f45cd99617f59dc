package graft.core

import java.util.Random

/** `java.util.Random`'s 48-bit linear congruential generator, with its
  * seed scrambling and update, kept in a plain `long` field: every draw
  * is the one a `java.util.Random` of the same seed returns, without the
  * `AtomicLong` compare-and-set that makes `Random` thread-safe.
  *
  * NOT thread-safe: each task owns its RNG (the GA kernels key theirs by
  * seed, generation or iteration, and partition or split). It extends
  * `Random`, so it goes wherever a `Random` is taken. `next`, `nextLong`,
  * `nextDouble` and `setSeed` are overridden; the other draws
  * (`nextInt`, `nextBoolean`, ...) are `Random`'s own, built on `next`.
  */
final class Lcg48(seed: Long) extends Random(seed) {
  import Lcg48._

  // Assigned by `setSeed`, which `Random`'s constructor calls before
  // this class's fields initialize; `= _` emits no second assignment.
  private[this] var state: Long = _

  override def setSeed(seed: Long): Unit = {
    super.setSeed(seed) // clears `Random`'s cached Gaussian
    state = (seed ^ Multiplier) & Mask
  }

  override protected def next(bits: Int): Int = {
    state = (state * Multiplier + Addend) & Mask
    (state >>> (48 - bits)).toInt
  }

  override def nextLong(): Long = {
    val s1 = (state * Multiplier + Addend) & Mask
    val s2 = (s1 * Multiplier + Addend) & Mask
    state = s2
    ((s1 >>> 16).toInt.toLong << 32) + (s2 >>> 16).toInt
  }

  override def nextDouble(): Double = {
    val s1 = (state * Multiplier + Addend) & Mask
    val s2 = (s1 * Multiplier + Addend) & Mask
    state = s2
    (((s1 >>> 22) << 27) + (s2 >>> 21)) * DoubleUnit
  }
}

object Lcg48 {
  private final val Multiplier = 0x5DEECE66DL
  private final val Addend = 0xBL
  private final val Mask = (1L << 48) - 1
  private final val DoubleUnit = 1.0 / (1L << 53)
}
