package graft.pipeline

import java.io.{DataInputStream, OutputStream}

/** The one wire framing of every framed source and sink: a 4-byte
  * big-endian payload length, then the payload (the reference's framed
  * TCP format: core/source/tcp_source/framed_source_notify.pony:91-133,
  * core/sink/tcp_sink/tcp_sink.pony). This object is the only code that
  * reads or writes the length header; the socket and log sources, the
  * frame buffer, the connector protocol and TcpSink all go through it. */
object Framing {
  val HeaderBytes = 4

  /** The length header at `pos` of `b`. Callers that take the header from
    * an untrusted peer check the sign themselves. */
  def len(b: Array[Byte], pos: Int): Int =
    ((b(pos) & 0xff) << 24) | ((b(pos + 1) & 0xff) << 16) |
      ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)

  /** Header plus `payload(off until off + len)`. No flush: callers flush
    * where their protocol needs it. */
  def write(out: OutputStream, payload: Array[Byte], off: Int, len: Int): Unit = {
    out.write(len >>> 24)
    out.write(len >>> 16)
    out.write(len >>> 8)
    out.write(len)
    out.write(payload, off, len)
  }

  def write(out: OutputStream, payload: Array[Byte]): Unit =
    write(out, payload, 0, payload.length)

  /** The next header from `in`. A header with bit 31 set reads negative
    * and fails here, naming `where`, instead of as an allocation or skip
    * error further on. */
  def readLen(in: DataInputStream, where: => String = "stream header"): Int = {
    val n = in.readInt()
    if (n < 0)
      throw new IllegalArgumentException(s"negative frame length $n ($where)")
    n
  }

  /** The next whole frame's payload from `in`. */
  def read(in: DataInputStream): Array[Byte] = {
    val b = new Array[Byte](readLen(in))
    in.readFully(b)
    b
  }

  /** The frames laid out back to back in `bytes(from until until)`, as
    * zero-copy views into `bytes`. A header that reads negative, or that
    * runs past `until`, fails with an IllegalArgumentException naming
    * its offset: a framed buffer holds whole frames only. */
  def walk(bytes: Array[Byte], from: Int, until: Int): FrameWalk = {
    val b = bytes
    new FrameWalk {
      this.bytes = b
      private var pos = from
      override def advance(): Boolean = pos < until && {
        require(pos + HeaderBytes <= until, s"truncated frame header at $pos")
        val n = Framing.len(b, pos)
        // a header with bit 31 set parses negative, and a huge positive
        // one would overflow the sum: check both against what is left
        require(n >= 0 && n <= until - pos - HeaderBytes,
          s"truncated or corrupt frame payload at $pos (len $n)")
        off = pos + HeaderBytes
        this.len = n
        pos = off + n
        true
      }
    }
  }
}
