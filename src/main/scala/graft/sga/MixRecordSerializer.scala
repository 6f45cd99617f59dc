package graft.sga

import java.io.{EOFException, IOException, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import scala.reflect.ClassTag

import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer,
  SerializerInstance}

/** The mixing shuffle's record format: each (key, genome) record is the
  * key's 8 bytes, the genome's word count (4 bytes) and its words, with
  * no stream header, class tags or back-references. Every field is
  * little-endian, the byte order of the hosts Spark runs on, so genome
  * words move between the buffer and the array as one bulk copy per
  * span through a `LongBuffer` view, with one bounds check per span
  * instead of one per word. Map tasks build no
  * Kryo instance per reduce-partition stream, and a record's bytes mean
  * the same wherever they sit, so serialized records may be relocated
  * and streams concatenated. */
private[sga] class MixRecordSerializer extends Serializer with Serializable {
  override def newInstance(): SerializerInstance = new SerializerInstance {
    override def serializeStream(s: OutputStream): SerializationStream = new MixRecordOutput(s)
    override def deserializeStream(s: InputStream): DeserializationStream = new MixRecordInput(s)
    override def serialize[T: ClassTag](t: T): ByteBuffer = unsupported
    override def deserialize[T: ClassTag](bytes: ByteBuffer): T = unsupported
    override def deserialize[T: ClassTag](bytes: ByteBuffer, loader: ClassLoader): T = unsupported
    private def unsupported = throw new UnsupportedOperationException("mix records are streamed")
  }

  override def supportsRelocationOfSerializedObjects: Boolean = true
}

private object MixRecordSerializer {
  val BufferBytes = 1 << 15

  def buffer(): ByteBuffer = ByteBuffer.allocate(BufferBytes).order(ByteOrder.LITTLE_ENDIAN)
}

/** Writes (key, genome) records through a buffer flushed in blocks. */
private class MixRecordOutput(out: OutputStream) extends SerializationStream {
  private val buf = MixRecordSerializer.buffer()

  private def room(n: Int): Unit = if (buf.remaining < n) drain()

  private def drain(): Unit = { out.write(buf.array, 0, buf.position()); buf.clear() }

  override def writeKey[T: ClassTag](key: T): SerializationStream = {
    room(8)
    buf.putDouble(key.asInstanceOf[Double])
    this
  }

  override def writeValue[T: ClassTag](value: T): SerializationStream = {
    val g = value.asInstanceOf[Array[Long]]
    room(4)
    buf.putInt(g.length)
    var i = 0
    while (i < g.length) {
      room(8)
      val span = math.min(g.length - i, buf.remaining >> 3)
      buf.asLongBuffer().put(g, i, span)
      buf.position(buf.position() + (span << 3))
      i += span
    }
    this
  }

  override def writeObject[T: ClassTag](t: T): SerializationStream = t match {
    case (k, g) => writeKey(k); writeValue(g)
  }

  override def flush(): Unit = { drain(); out.flush() }

  override def close(): Unit = { drain(); out.close() }
}

/** Reads the records back; the end of the stream at a record boundary
  * is the `EOFException` that ends `asKeyValueIterator`. */
private class MixRecordInput(in: InputStream) extends DeserializationStream {
  private val buf = MixRecordSerializer.buffer().flip()

  /** Whether `n` bytes are buffered, reading more while the stream has them. */
  private def fill(n: Int): Boolean = {
    if (buf.remaining < n) {
      buf.compact()
      var read = 0
      while (buf.position() < n && read >= 0) {
        read = in.read(buf.array, buf.position(), buf.remaining)
        if (read > 0) buf.position(buf.position() + read)
      }
      buf.flip()
    }
    buf.remaining >= n
  }

  private def truncated = new IOException("mix record stream ends inside a record")

  private def need(n: Int): Unit = if (!fill(n)) throw truncated

  override def readKey[T: ClassTag](): T = {
    if (!fill(8)) throw (if (buf.hasRemaining) truncated else new EOFException)
    buf.getDouble.asInstanceOf[T]
  }

  override def readValue[T: ClassTag](): T = {
    need(4)
    val g = new Array[Long](buf.getInt)
    var i = 0
    while (i < g.length) {
      need(8)
      val span = math.min(g.length - i, buf.remaining >> 3)
      buf.asLongBuffer().get(g, i, span)
      buf.position(buf.position() + (span << 3))
      i += span
    }
    g.asInstanceOf[T]
  }

  override def readObject[T: ClassTag](): T =
    (readKey[Double](), readValue[Array[Long]]()).asInstanceOf[T]

  override def close(): Unit = in.close()
}
