package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import graft.model.BufTurn

/** Versioned binary codec for the session join's state value
  * (`SessionJoin.ConvState`): a blob carrying a 1-byte version tag,
  * decoded through per-version shims on read and written at the current
  * version. Spark validates a CATALYST state schema on restore, so any
  * case-class change (the round-3 conv_id slim, for one) would force a
  * full state rebuild — but a binary column's schema never changes, and
  * the tag moves the compatibility decision into this codec, where an
  * old layout is a read-path migration instead of a rebuild.
  * SessionJoinSpec stops a query writing VERSION 1 (the legacy pre-slim
  * layout, conv_id inside every buffered row) and resumes it writing
  * versions 2 and then 3, exactly-once output intact.
  *
  * Versions:
  *   1 — legacy layout (reference for migration): per buffered turn
  *       {conv_id, turn_idx, role, text, tool, tsMs}; the conv_id is
  *       redundant (it is the state key) and is DROPPED on read.
  *   2 — slim layout: {turn_idx, role, text, tool, tsMs}.
  *   3 — current: v2 plus the timestamp's nanos-of-second. v1 and v2
  *       kept epoch milliseconds only, truncating Spark's microsecond
  *       timestamps, so a streamed pair's user_ts/reply_ts differed from
  *       the batch form's; they still decode, at millisecond precision.
  */
object StateEnvelope {

  val CurrentVersion = 3

  private def writeStr(o: DataOutputStream, s: String): Unit =
    if (s == null) o.writeInt(-1)
    else {
      val b = s.getBytes("UTF-8"); o.writeInt(b.length); o.write(b)
    }

  private def readStr(i: DataInputStream): String = {
    val n = i.readInt()
    if (n < 0) null
    else {
      val b = new Array[Byte](n); i.readFully(b); new String(b, "UTF-8")
    }
  }

  /** Encode at an explicit version (tests write v1 to exercise the
    * migration shim; production writes CurrentVersion).
    */
  def encode(convId: String, st: SessionJoin.ConvState, version: Int = CurrentVersion): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    o.writeByte(version)
    o.writeLong(st.flushedSessions)
    o.writeInt(st.buffered.size)
    st.buffered.foreach { t =>
      version match {
        case 1 => writeStr(o, convId) // legacy layout carried the key
        case 2 | 3 => ()
        case v => throw new IllegalArgumentException(s"unknown state version $v")
      }
      o.writeInt(t.turn_idx)
      writeStr(o, t.role)
      writeStr(o, t.text)
      writeStr(o, t.tool)
      o.writeLong(t.ts.getTime)
      if (version >= 3) o.writeInt(t.ts.getNanos)
    }
    o.flush()
    bos.toByteArray
  }

  /** Decode any known version — the migration shim lives here. */
  def decode(bytes: Array[Byte]): SessionJoin.ConvState = {
    val i = new DataInputStream(new ByteArrayInputStream(bytes))
    val ver = i.readByte()
    if (ver < 1 || ver > CurrentVersion)
      throw new IllegalStateException(s"unknown state version $ver in checkpoint")
    val flushed = i.readLong()
    val n = i.readInt()
    val buf = List.newBuilder[BufTurn]
    (0 until n).foreach { _ =>
      ver match {
        case 1 => readStr(i): Unit // legacy conv_id: redundant, dropped
        case _ => ()
      }
      val idx = i.readInt()
      val role = readStr(i)
      val text = readStr(i)
      val tool = readStr(i)
      val ts = new java.sql.Timestamp(i.readLong())
      if (ver >= 3) ts.setNanos(i.readInt())
      buf += BufTurn(idx, role, text, tool, ts)
    }
    SessionJoin.ConvState(buf.result(), flushed)
  }
}
