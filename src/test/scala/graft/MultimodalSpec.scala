package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Multimodal

/** Container-byte locks for the AVI writers: the decode tests read frames
  * and samples back, so they would not notice a header or index change.
  * Each digest is the MD5 of one fixed small encode. */
class MultimodalSpec extends AnyFunSuite {
  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  private val pixel: Int => (Int, Int) => (Int, Int, Int) =
    f => (x, y) => ((x * 13 + f * 7) % 256, (y * 29 + f) % 256, (x + y * 3 + f * 11) % 256)

  test("encodeAviMjpeg, encodeAviMjpeg420 and encodeAviMjpegPcm write the locked bytes") {
    val avi = Multimodal.encodeAviMjpeg(17, 9, 3, pixel)
    val avi420 = Multimodal.encodeAviMjpeg420(17, 9, 3, pixel)
    val aviPcm = Multimodal.encodeAviMjpegPcm(17, 9, 3, pixel,
      sampleRate = 8000, samplesPerFrame = 51, f => i => ((f * 51 + i) * 37) % 2048 - 1024)
    assert(md5Hex(avi) == "a5d250e0cc2e84190f72d4a96aab4434")
    assert(md5Hex(avi420) == "9e07c7a6248ad7b512c126a80999d9bf")
    assert(md5Hex(aviPcm) == "6aa845fe0acd1a7a316d6b7d70d400bb")
  }
}
