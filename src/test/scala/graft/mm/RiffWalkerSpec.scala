package graft.mm

import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The RIFF chunk walker behind `Codecs.decodeWav`'s odd-byte check
  * must end on any header: a corrupt chunk size is a named failure
  * (-1), never a loop or an index crash. */
class RiffWalkerSpec extends AnyFunSuite {

  private def le32(v: Long): Array[Byte] = Array(0, 8, 16, 24).map(s => ((v >> s) & 0xff).toByte)

  /** RIFF/WAVE with a `fmt ` chunk, a `junk` chunk declaring
    * `junkSize` bytes (4 present), then a 4-byte `data` chunk. */
  private def wavWithJunk(junkSize: Long): Array[Byte] = {
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++ Array[Byte](2, 0, 16, 0)
    val junk = "junk".getBytes("US-ASCII") ++ le32(junkSize) ++ new Array[Byte](4)
    val data = "data".getBytes("US-ASCII") ++ le32(4) ++ Array[Byte](1, 0, 2, 0)
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ junk ++ data
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** The walker's result, failing the test if it does not return
    * within a few seconds. */
  private def walk(bytes: Array[Byte]): Long =
    Await.result(Future(Codecs.riffDataChunkSize(bytes)), 10.seconds)

  test("a well-formed chunk list reaches the data chunk") {
    assert(walk(wavWithJunk(4)) == 4)
    val pcm = Codecs.encodeWavPcm16(Array.tabulate[Short](9)(i => (i * 100).toShort), 8000)
    assert(walk(pcm) == 18)
  }

  test("chunk size 0xFFFFFFF8 returns -1 instead of looping forever") {
    assert(walk(wavWithJunk(0xFFFFFFF8L)) == -1L)
  }

  test("chunk size 0x7FFFFFF0 returns -1 instead of overflowing the offset") {
    assert(walk(wavWithJunk(0x7FFFFFF0L)) == -1L)
  }

  test("a chunk running past the end or a short header returns -1") {
    assert(walk(wavWithJunk(64)) == -1L)
    assert(walk(Array.fill[Byte](11)(0)) == -1L)
  }
}
