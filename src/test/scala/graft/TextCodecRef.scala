package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.Deflater
import graft.codec.Gorilla
import scala.collection.mutable.ArrayBuffer

/** Reference text codec: String texts → text blob, written straight from
  * the layout documented on [[Gorilla.encodeTextBytes]] (null → empty).
  * The pivot's byte-level encoder must produce the identical blob.
  */
object TextCodecRef {
  def encodeTexts(vs: Array[String], level: Int = 6): Array[Byte] = {
    val texts = vs.map(s => if (s == null) Array.emptyByteArray else s.getBytes(UTF_8))
    val raw = ArrayBuffer[Byte]()
    Gorilla.writeVarInt(raw, texts.length)
    texts.foreach(t => Gorilla.writeVarInt(raw, t.length))
    texts.foreach(raw ++= _)
    val deflater = new Deflater(level)
    deflater.setInput(raw.toArray)
    deflater.finish()
    val out = new ByteArrayOutputStream()
    out.write(ByteBuffer.allocate(4).putInt(raw.length).array())
    val chunk = new Array[Byte](8192)
    while (!deflater.finished()) out.write(chunk, 0, deflater.deflate(chunk))
    deflater.end()
    out.toByteArray
  }
}
