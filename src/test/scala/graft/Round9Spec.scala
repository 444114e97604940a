package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.ops.CoreOps

/** Round-9 hardening: the four ADVICE r8 robustness items, each pinned
  * by the failure it guards against.
  */
class Round9Spec extends SparkSpec {

  import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}

  private def wavBytes(fmt: AudioFormat, pcm: Array[Byte]): Array[Byte] = {
    val frames = pcm.length / fmt.getFrameSize
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("decodeAudio converts 8-bit and big-endian WAVs instead of mis-parsing them") {
    import spark.implicits._
    // 8-bit unsigned mono: u -> 16-bit signed (u-128)<<8 after conversion
    val u8 = Array[Int](128, 255, 0, 200, 60).map(_.toByte)
    val wav8 = wavBytes(new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED, 8000f, 8, 1, 1, 8000f, false), u8)
    // 16-bit BIG-endian mono: same samples must survive byte-swap conversion
    val samples = Array[Short](1000, -2000, 32000, -32000, 7)
    val be = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      be(2 * i) = (s >> 8).toByte; be(2 * i + 1) = s.toByte
    }
    val wavBe = wavBytes(new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, true), be)
    val out = Multimodal.decodeAudio(
        Seq((1L, wav8), (2L, wavBe)).toDF("media_id", "content"))
      .collect().map(d => d.media_id -> d).toMap
    assert(out.size == 2, "both non-native encodings must decode via conversion")
    val d8 = out(1L)
    // the JDK SPI scales 8-bit deltas asymmetrically: positive by
    // 32767/127 (full-scale maps to full-scale), negative by 256
    val expect8 = u8.map { b =>
      val s = (b & 0xff) - 128
      if (s >= 0) s * 32767 / 127 else s * 256
    }
    assert(d8.n_samples == 5L)
    assert(d8.peak_abs == expect8.map(math.abs).max)
    assert(d8.sum_sq == expect8.map(v => v.toLong * v).sum)
    val dbe = out(2L)
    assert(dbe.n_samples == 5L)
    assert(dbe.peak_abs == 32000)
    assert(dbe.sum_sq == samples.map(v => v.toLong * v).sum)
  }

  test("decodeAudio drops stereo payloads rather than interleaving channels as samples") {
    import spark.implicits._
    val stereo = wavBytes(
      new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 2, 4, 8000f, false),
      new Array[Byte](32))
    val good = Multimodal.wavMedia(Seq(3L).toDF("doc_id"))
    val out = Multimodal.decodeAudio(
        good.unionByName(Seq((9L, stereo)).toDF("media_id", "content")))
      .collect()
    assert(out.map(_.media_id).toSeq == Seq(3L),
      "channel mixing is not attempted; stereo rows drop")
  }

  test("demuxVideo bounds the untrusted frame-length field before allocating") {
    import spark.implicits._
    // container declaring a ~2 GiB frame: must be dropped as malformed,
    // not die in Array allocation
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeBytes("GFTV"); dos.writeInt(1); dos.writeInt(0x7fffffff)
    dos.write(Array[Byte](1, 2, 3)); dos.flush()
    val evil = bos.toByteArray
    val neg = {
      val b = new java.io.ByteArrayOutputStream(); val d = new java.io.DataOutputStream(b)
      d.writeBytes("GFTV"); d.writeInt(1); d.writeInt(-5); d.flush(); b.toByteArray
    }
    val good = Multimodal.videoMedia(Seq(4L).toDF("doc_id"))
    val out = Multimodal.demuxVideo(good.unionByName(
        Seq((400L, evil), (401L, neg)).toDF("media_id", "content")))
      .collect()
    assert(out.map(_.media_id).distinct.toSeq == Seq(4L))
  }

  test("leadingDigit is exact past the 1e8 ladder edge and always lands in 1..9") {
    import spark.implicits._
    val vals = Seq(1.0, 9.99, 123.4, 99999999.0, 123456789.0, 987654321.5,
      1.23e12, 9.99e14)
    val out = vals.toDF("x").select(CoreOps.leadingDigit(col("x")).as("d"))
      .collect().map(_.getInt(0)).toSeq
    assert(out == Seq(1, 9, 1, 9, 1, 9, 1, 9))
  }

  test("PQ results are identical with a prebuilt index and with inline build") {
    val e = graft.io.Tables.table(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val inline = graft.sim.Similarity.pqTopK(e, q, 3,
        trainCodebooks = true, codebookSize = Some(16))
      .collect().map(_.toSeq).toSet
    val idx = graft.sim.Similarity.pqBuildIndex(e,
      trainCodebooks = true, codebookSize = Some(16))
    val cached = graft.sim.Similarity.pqTopK(e, q, 3,
        trainCodebooks = true, codebookSize = Some(16),
        index = Some(idx.copy(
          cb = idx.cb.localCheckpoint(true),
          codes = idx.codes.localCheckpoint(true))))
      .collect().map(_.toSeq).toSet
    assert(inline == cached,
      "a checkpointed prebuilt index must serve the same neighbors as inline build")
  }

  test("skylineND merge buffer stays frontier-sized under adversarial arrival order (SFS sort)") {
    import spark.implicits._
    // 400 mutually non-dominated decoys (x rises, y falls) so every LOCAL
    // frontier keeps everything — the merge input is the full union — plus
    // ONE global dominator at the HIGHEST id. Unsorted, the dominator
    // arrives last and the merge buffer balloons to ~401 before
    // collapsing; sorted on dim 1 it arrives FIRST and the buffer never
    // exceeds the global frontier (1 row).
    val n = 400
    val decoys = (1 to n).map(i => (i.toLong, i.toDouble, (n - i).toDouble, 5.0))
    val all = decoys :+ ((n + 1).toLong, 0.0, 0.0, 0.0)
    val df = all.toDF("id", "x", "y", "z").repartition(8)
    val acc = spark.sparkContext.longAccumulator("skylinePeak")
    val out = CoreOps.skylineND(df, "id", minCols = Seq("x", "y", "z"),
        maxCols = Seq.empty, peakMergeBuffer = Some(acc))
      .select("id").as[Long].collect()
    assert(out.toSeq == Seq((n + 1).toLong), "only the dominator survives")
    assert(acc.value == 1L,
      s"sorted merge must hold only the running global frontier, peaked at ${acc.value}")
  }

  test("groupedOls excludes incomplete rows so n matches the sums (complete-case fit)") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Long, java.lang.Long)](
      ("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 30L),
      ("g", null, 999L), ("g", 999L, null),        // must not count
      ("h", null, 1L), ("h", 2L, null)             // no complete rows -> absent
    ).toDF("g", "x", "y")
    val out = CoreOps.groupedOls(df, Seq("g"), "x", "y").collect()
    assert(out.length == 1 && out.head.getString(0) == "g",
      "all-incomplete groups are absent")
    val r = out.head
    assert(r.getLong(r.fieldIndex("n")) == 3L, "n counts complete rows only")
    assert(r.getDouble(r.fieldIndex("slope")) == 10.0)
    assert(r.getDouble(r.fieldIndex("intercept")) == 0.0)
  }
}

object Round9Spec {

  /** A dense-candidate fixture: 60 near-dup families of 4 documents
    * (0-6 word edits each) over a seeded 60-word Zipf vocabulary. */
  def zipfCorpus(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // power-law vocabulary: dense 3-gram collisions on the head words make
    // prefix candidates plentiful relative to true pairs
    val rng = new scala.util.Random(11)
    val vocabSize = 60
    def zipfWord(): String = {
      // inverse-CDF over 1/r weights
      val z = (1 to vocabSize).map(1.0 / _).sum
      var u = rng.nextDouble() * z; var r = 1
      while (u > 1.0 / r && r < vocabSize) { u -= 1.0 / r; r += 1 }
      s"w$r"
    }
    // near-dup families: each base doc spawns variants with 0-6 word
    // edits, so 3-gram overlap spans the whole Jaccard range — plenty of
    // prefix candidates above AND below the 0.5 threshold
    (0 until 60).flatMap { b =>
      val baseWords = (1 to 28).map(_ => zipfWord()).toVector
      (0 until 4).map { v =>
        val edits = v * 2
        val w = (0 until edits).foldLeft(baseWords)((acc, _) =>
          acc.updated(rng.nextInt(acc.size), zipfWord()))
        ((b * 4 + v + 1).toLong, w.mkString(" "))
      }
    }.toDF("doc_id", "text")
  }
}
