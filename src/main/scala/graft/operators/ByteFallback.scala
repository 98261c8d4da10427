package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** SentencePiece byte fallback, shared by the engines that have it
  * ([[SpmBpeTokenizer]], [[UnigramTokenizer]]): a piece no vocab entry
  * covers becomes its UTF-8 bytes' `<0xNN>` tokens, and decode turns runs
  * of byte tokens back into UTF-8. The `<0xNN>` token format lives only
  * here. */
private[operators] object ByteFallback {

  /** The `<0xNN>` token id per byte value, -1 when `idOf` has none. */
  def ids(idOf: String => Option[Long]): Array[Long] =
    Array.tabulate(256)(b => idOf(f"<0x$b%02X>").getOrElse(-1L))

  /** Byte value per byte-token id: the inverse of [[ids]]. */
  def bytes(ids: Array[Long]): Map[Long, Int] =
    ids.indices.collect { case b if ids(b) >= 0L => ids(b) -> b }.toMap

  /** Append `piece`, spanning chars [s, e), as its byte tokens when `ids`
    * is given and holds every one of its bytes; else as `<unk>`, fused
    * into a touching `<unk>` before it when `fuseUnk` is set. */
  def emit(out: ArrayBuffer[(Long, Int, Int)], piece: String, s: Int, e: Int,
      ids: Array[Long], unkId: Long, fuseUnk: Boolean): Unit = {
    val bytes = if (ids == null) Array.emptyByteArray else piece.getBytes(UTF_8)
    if (bytes.nonEmpty && bytes.forall(b => ids(b & 0xff) >= 0L))
      bytes.foreach(b => out += ((ids(b & 0xff), s, e)))
    else if (fuseUnk) appendUnk(out, unkId, s, e)
    else out += ((unkId, s, e))
  }

  /** Append `<unk>` over [s, e); an `<unk>` that ends at `s` grows to `e`
    * instead (consecutive unknowns fuse into one). */
  def appendUnk(out: ArrayBuffer[(Long, Int, Int)], unkId: Long, s: Int,
      e: Int): Unit =
    if (out.nonEmpty && out.last._1 == unkId && out.last._3 == s)
      out(out.length - 1) = (unkId, out.last._2, e)
    else out += ((unkId, s, e))

  /** Decoded text in which each run of raw bytes decodes as UTF-8
    * (invalid sequences become U+FFFD); [[append]] ends the run. */
  final class Utf8Text {
    private val sb = new java.lang.StringBuilder
    private val run = new java.io.ByteArrayOutputStream

    def byte(b: Int): Unit = run.write(b)

    def append(s: String): Unit = {
      if (run.size > 0) {
        sb.append(new String(run.toByteArray, UTF_8))
        run.reset()
      }
      sb.append(s)
    }

    def result(): String = { append(""); sb.toString }
  }
}
