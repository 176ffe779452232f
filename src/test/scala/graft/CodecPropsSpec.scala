package graft

import graft.codec.Gorilla
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property-style tests for the Gorilla/DoD codecs (SURVEY.md §5.3):
  * lossless round-trip on seeded random series including edge cases (empty,
  * single point, constant series, negative deltas, NaN/Inf, nulls).
  * Deterministic (fixed seed) so failures are reproducible.
  */
class CodecPropsSpec extends AnyFunSuite {
  private val Trials = 200

  private def withRng(seed: Long)(f: Random => Unit): Unit = f(new Random(seed))

  test("DoD round-trips arbitrary long sequences") {
    withRng(42) { rng =>
      for (_ <- 1 to Trials) {
        val n = rng.nextInt(200)
        val a = Array.fill(n)(rng.nextLong() / 4)
        assert(Gorilla.decodeTimestamps(Gorilla.encodeTimestamps(a)).sameElements(a))
      }
    }
  }

  test("DoD round-trips monotone timestamp-like sequences") {
    withRng(43) { rng =>
      for (_ <- 1 to Trials) {
        val n = rng.nextInt(500)
        var t = 1700000000000L + rng.nextInt(1000000)
        val a = Array.fill(n) { t += rng.nextInt(10000000).toLong; t }
        assert(Gorilla.decodeTimestamps(Gorilla.encodeTimestamps(a)).sameElements(a))
      }
    }
  }

  test("DoD edge cases") {
    for (a <- Seq(Array.empty[Long], Array(42L), Array(5L, 5L, 5L, 5L),
        Array(100L, 50L, 0L, -50L), Array(Long.MaxValue / 4, Long.MinValue / 4),
        Array(0L, 1L, 64L, -63L, 256L, -255L, 2048L, -2047L, 1L << 40)))
      assert(Gorilla.decodeTimestamps(Gorilla.encodeTimestamps(a)).sameElements(a))
  }

  test("XOR round-trips arbitrary doubles incl. NaN/Inf") {
    val specials = Array(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -0.0, Double.MinPositiveValue, Double.MaxValue)
    withRng(44) { rng =>
      for (_ <- 1 to Trials) {
        val n = rng.nextInt(300)
        val a = Array.fill(n) {
          if (rng.nextInt(10) == 0) specials(rng.nextInt(specials.length))
          else (rng.nextDouble() - 0.5) * 2e12
        }
        val back = Gorilla.decodeValues(Gorilla.encodeValues(a))
        assert(back.length == a.length)
        a.indices.foreach { i =>
          assert(java.lang.Double.doubleToRawLongBits(back(i)) ==
            java.lang.Double.doubleToRawLongBits(a(i)), s"at $i")
        }
      }
    }
  }

  test("XOR compresses constant/slow series well") {
    val a = Array.fill(1000)(273.15)
    val blob = Gorilla.encodeValues(a)
    assert(Gorilla.decodeValues(blob).sameElements(a))
    assert(blob.length < 200) // ~1 bit/point + header, vs 8000 raw bytes
  }

  test("dictionary strings round-trip incl. nulls") {
    val vocab = Array(null, "user", "assistant", "tool", "système", "日本語")
    withRng(45) { rng =>
      for (_ <- 1 to Trials) {
        val a = Array.fill(rng.nextInt(200))(vocab(rng.nextInt(vocab.length)))
        assert(Gorilla.decodeStrings(Gorilla.encodeStrings(a)).sameElements(a))
      }
    }
  }

  test("texts round-trip incl. unicode and empties") {
    withRng(46) { rng =>
      for (_ <- 1 to Trials) {
        val a = Array.fill(rng.nextInt(100)) {
          rng.nextInt(4) match {
            case 0 => ""
            case 1 => rng.alphanumeric.take(rng.nextInt(2000)).mkString
            case 2 => "多字节 ✓ emoji 🚀 " * rng.nextInt(5)
            case _ => Array.fill(rng.nextInt(50))(rng.nextPrintableChar()).mkString
          }
        }
        assert(Gorilla.decodeTexts(Gorilla.encodeTextBytes(a.map(_.getBytes("UTF-8")))).sameElements(a))
      }
    }
  }

  test("a truncated or lying-header text blob fails instead of spinning") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val rng = new Random(47)
    val blob = Gorilla.encodeTextBytes(
      Array.fill(2000)(rng.alphanumeric.take(rng.nextInt(40)).mkString.getBytes("UTF-8")))
    val truncated = blob.take(blob.length / 2)
    // the header claims 100 more raw bytes than the stream holds
    val rawLen = java.nio.ByteBuffer.wrap(blob).getInt
    val lying = java.nio.ByteBuffer.allocate(blob.length).put(blob)
      .putInt(0, rawLen + 100).array()
    // a decode that spins never returns, so bound it from another thread
    // (a time limit on the test's own thread cannot preempt a busy loop)
    for ((name, b) <- Seq("truncated" -> truncated, "lying header" -> lying);
        decode <- Seq[Array[Byte] => Any](Gorilla.decodeTexts, Gorilla.decodeTextPointCounts))
      withClue(s"$name blob: ") {
        intercept[java.util.zip.DataFormatException](Await.result(Future(decode(b)), 30.seconds))
      }
  }

  test("byte-level text encode is blob-identical; point counts match String semantics") {
    val rng = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val a = Array.fill(rng.nextInt(80)) {
        rng.nextInt(4) match {
          case 0 => ""
          case 1 => rng.alphanumeric.take(rng.nextInt(1500)).mkString
          case 2 => "多字节 ✓ emoji 🚀 ẞ " * rng.nextInt(4)
          case _ => Array.fill(rng.nextInt(40))(rng.nextPrintableChar()).mkString
        }
      }
      val fromStrings = TextCodecRef.encodeTexts(a)
      val fromBytes = Gorilla.encodeTextBytes(a.map(_.getBytes("UTF-8")))
      assert(java.util.Arrays.equals(fromStrings, fromBytes),
        "byte-level encode must produce the identical blob")
      val counts = Gorilla.decodeTextPointCounts(fromBytes)
      assert(counts.sameElements(a.map(s => s.codePointCount(0, s.length))),
        "UTF-8 lead-byte counting must equal String.codePointCount")
    }
    // nulls encode as empties in both paths
    assert(java.util.Arrays.equals(
      TextCodecRef.encodeTexts(Array(null, "x")),
      Gorilla.encodeTextBytes(Array(null, "x".getBytes("UTF-8")))))
  }

  test("least_significant_digit quantization: bounded error, smaller blobs, lossless default") {
    import graft.codec.{ValueBuf, ValueSegAgg}
    val rng = new scala.util.Random(11)
    val ts = Vector.tabulate(2000)(i => 1700000000000L + i * 1000L)
    val vs = Vector.fill(2000)(20.0 + rng.nextDouble() * 0.01) // noisy mantissa
    val lossless = new ValueSegAgg().finish(ValueBuf(ts, vs))
    val lossy = new ValueSegAgg(Some(2)).finish(ValueBuf(ts, vs))
    val back = Gorilla.decodeValues(lossy.valBlob)
    // ts strictly increasing → finish() preserves input order
    vs.zip(back.toSeq).foreach { case (v, q) =>
      assert(math.abs(v - q) <= 0.5e-2, s"$v vs $q exceeds 0.5*10^-2")
    }
    assert(lossy.valBlob.length < lossless.valBlob.length / 2,
      s"quantization should collapse XOR windows: ${lossy.valBlob.length} vs ${lossless.valBlob.length}")
    assert(Gorilla.decodeValues(lossless.valBlob).toSeq == vs,
      "default path stays lossless")
  }

  test("DoD compresses regular timestamps to ~1-2 bits/point") {
    val a = Array.tabulate(10000)(i => 1700000000000L + i * 60000L)
    val blob = Gorilla.encodeTimestamps(a)
    assert(Gorilla.decodeTimestamps(blob).sameElements(a))
    assert(blob.length < 10000 / 4) // << 80000 raw bytes
  }
}
