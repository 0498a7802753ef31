package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import Multimodal.MediaRow

/** [[Multimodal.audioWindowEnergies]] — exact per-window Σ s² over the
  * real WAV decode, including partial tails, stereo interleave, and
  * the degrade-not-fail contract for undecodable payloads. */
class AudioWindowSpec extends AnyFunSuite with graft.SharedSpark {

  private def windows(rows: Seq[MediaRow], w: Int) = {
    import spark.implicits._
    Multimodal.audioWindowEnergies(rows.toDS(), w).collect()
      .map(a => (a.media_id, a.win_id, a.n_frames, a.energy)).sorted.toSeq
  }

  test("window energies are the exact sum of squares, tail partial") {
    // 7 mono frames, window 3: [1,2,3] [4,5,6] [7]
    val s = Array[Short](1, 2, 3, 4, 5, 6, 7)
    val got = windows(Seq(MediaRow(9L, "audio", Multimodal.wavPcm16(8000, 1, s))), 3)
    assert(got === Seq(
      (9L, 0L, 3L, 1L + 4 + 9), (9L, 1L, 3L, 16L + 25 + 36), (9L, 2L, 1L, 49L)))
  }

  test("stereo: a window's energy spans both channels of its frames") {
    // 3 stereo frames (L,R): (1,10) (2,20) (3,30); window 2 frames
    val s = Array[Short](1, 10, 2, 20, 3, 30)
    val got = windows(Seq(MediaRow(5L, "audio", Multimodal.wavPcm16(8000, 2, s))), 2)
    assert(got === Seq(
      (5L, 0L, 2L, 1L + 100 + 4 + 400), (5L, 1L, 1L, 9L + 900)))
  }

  test("negative samples square positively; silence is exactly zero") {
    val s = Array[Short](-3, 0, 0, 0)
    val got = windows(Seq(MediaRow(1L, "audio", Multimodal.wavPcm16(8000, 1, s))), 2)
    assert(got === Seq((1L, 0L, 2L, 9L), (1L, 1L, 2L, 0L)))
  }

  test("undecodable payloads contribute no windows, not a failure") {
    val got = windows(Seq(
      MediaRow(1L, "audio", Multimodal.wavPcm16(8000, 1, Array[Short](1, 2))),
      MediaRow(2L, "audio", Array[Byte](1, 2, 3, 4)),
      MediaRow(3L, "audio", null)), 2)
    assert(got.map(_._1).distinct === Seq(1L))
  }

  test("sample_rate is carried through from the fmt chunk") {
    import spark.implicits._
    val ds = Seq(MediaRow(7L, "audio",
      Multimodal.wavPcm16(44100, 1, Array[Short](1, 2, 3)))).toDS()
    val rates = Multimodal.audioWindowEnergies(ds, 2).collect().map(_.sample_rate)
    assert(rates.toSeq === Seq(44100, 44100))
  }
}
