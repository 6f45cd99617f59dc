package graft.sga

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Genome

class MixRecordSerializerSpec extends AnyFunSuite {

  private val serializer = new MixRecordSerializer

  /** Records with genomes of 1, 2 and 3 words (64, 100 and 130 bits). */
  private def records(seed: Long): Seq[(Double, Array[Long])] = {
    val rng = new Random(seed)
    Seq(64, 100, 130, 64, 130).map(n => (rng.nextDouble(), Genome.random(n, rng)))
  }

  private def write(rs: Seq[(Double, Array[Long])]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = serializer.newInstance().serializeStream(bytes)
    rs.foreach { case (k, g) => out.writeKey(k); out.writeValue(g) }
    out.close()
    bytes.toByteArray
  }

  private def read(bytes: Array[Byte]): Seq[(Double, Seq[Long])] =
    serializer.newInstance().deserializeStream(new ByteArrayInputStream(bytes))
      .asKeyValueIterator.map { case (k, g) =>
        (k.asInstanceOf[Double], g.asInstanceOf[Array[Long]].toSeq)
      }.toSeq

  private def plain(rs: Seq[(Double, Array[Long])]) = rs.map { case (k, g) => (k, g.toSeq) }

  test("records round-trip: the key's 8 bytes, the word count and the words") {
    val rs = records(1)
    val bytes = write(rs)
    assert(rs.map(_._2.length) == Seq(1, 2, 3, 1, 3))
    assert(bytes.length == rs.map(r => 8 + 4 + 8 * r._2.length).sum)
    assert(read(bytes) == plain(rs))
  }

  test("records round-trip across the stream buffer's boundary") {
    val rng = new Random(2)
    // 1,000 records of 3 words (36 B) overrun the 32 KiB buffer mid-record
    val rs = Seq.fill(1000)((rng.nextDouble(), Genome.random(130, rng)))
    assert(read(write(rs)) == plain(rs))
  }

  test("a genome wider than the stream buffer round-trips; a cut inside its words fails") {
    val rng = new Random(7)
    // 5,000 words (40,000 B) span two 32 KiB buffers, on both sides
    val rs = Seq((rng.nextDouble(), Genome.random(5000 * 64, rng)), (0.5, Genome.random(64, rng)))
    val bytes = write(rs)
    assert(bytes.length == 12 + 8 * 5000 + 12 + 8)
    assert(read(bytes) == plain(rs))
    Seq(12 + 8, 12 + 8 * 4096 + 3, 12 + 8 * 5000 - 1).foreach { cut =>
      intercept[IOException](read(bytes.take(cut)))
    }
  }

  test("fields are little-endian") {
    val g = Array(0x0102030405060708L)
    val bytes = write(Seq((1.0, g)))
    val le = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(le.getDouble(0) == 1.0 && le.getInt(8) == 1 && le.getLong(12) == g(0))
  }

  test("two streams concatenated read back as one (serialized records relocate)") {
    assert(serializer.supportsRelocationOfSerializedObjects)
    val (a, b) = (records(3), records(4))
    assert(read(write(a) ++ write(b)) == plain(a ++ b))
  }

  test("asKeyValueIterator ends cleanly at the end of the stream") {
    assert(read(Array.emptyByteArray).isEmpty)
    val it = serializer.newInstance()
      .deserializeStream(new ByteArrayInputStream(write(records(5).take(1))))
      .asKeyValueIterator
    assert(it.hasNext)
    it.next()
    assert(!it.hasNext)
  }

  test("a stream cut inside a record fails instead of ending early") {
    val bytes = write(records(6))
    Seq(3, 10, bytes.length - 1).foreach { cut =>
      intercept[IOException](read(bytes.take(cut)))
    }
  }
}
