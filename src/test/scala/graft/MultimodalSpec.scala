package graft

import graft.operators.Multimodal

/** The multimodal plumbing: deterministic stub decode and the
  * partition-batched typed decode surface. */
class MultimodalSpec extends SparkSuite {

  test("decodeStub chunk means are deterministic and hand-computable") {
    // 8 bytes → 4 chunks of 2: means (1.5, 3.5, 5.5, 7.5)
    val payload = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    assert(Multimodal.decodeStub(payload).toSeq == Seq(1.5, 3.5, 5.5, 7.5))
    // unsigned byte handling: 0xFF reads as 255, not -1
    assert(Multimodal.decodeStub(Array(0xff.toByte)).toSeq == Seq(255.0, 0.0, 0.0, 0.0))
    assert(Multimodal.decodeStub(Array.emptyByteArray).toSeq == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("decodeBatch emits one 4-feature row per document") {
    val ds = Multimodal.decodeBatch(spark, "/root/testdata/sf0.001")
    val rows = ds.collect()
    assert(rows.length == 500)
    assert(rows.forall(_.feature.length == 4))
    assert(rows.forall(r => r.n_bytes > 0))
    // features are byte means — bounded by the byte range
    assert(rows.forall(_.feature.forall(f => f >= 0.0 && f <= 255.0)))
  }

  test("resizeStub keeps every stride-th byte, first byte always") {
    assert(Multimodal.resizeStub(Array[Byte](1, 2, 3, 4, 5, 6, 7), 3).toSeq ==
      Seq[Byte](1, 4, 7))
    assert(Multimodal.resizeStub(Array[Byte](9), 3).toSeq == Seq[Byte](9))
    assert(Multimodal.resizeStub(Array[Byte](1, 2, 3), 1).toSeq ==
      Seq[Byte](1, 2, 3))
  }

  test("q120 frame sampling: stride geometry and per-frame md5 vs a driver replay") {
    val out = Multimodal.queries("q120_mm_frames")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getString(5)))
      .toMap
    val texts = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fb = Multimodal.FRAME_BYTES
    val fs = Multimodal.FRAME_STRIDE
    val expected = texts.toSeq.flatMap { case (id, t) =>
      val bytes = t.getBytes("UTF-8")
      if (bytes.length < fb) Seq.empty
      else {
        val nFrames = bytes.length / fb
        (0L until nFrames.toLong by fs.toLong).map { fi =>
          val frame = bytes.slice((fi * fb).toInt, (fi * fb).toInt + fb)
          (id, fi) -> (bytes.length.toLong, nFrames.toLong, fi * fb, hexMd5(frame))
        }
      }
    }.toMap
    assert(out == expected)
  }

  test("q121 resize: output md5 equals a driver-side resizeStub replay") {
    val out = Multimodal.queries("q121_mm_resize")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val texts = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val eligible = texts.filter { case (_, t) => t.nonEmpty }
    assert(out.size == eligible.size)
    eligible.foreach { case (id, t) =>
      val bytes = t.getBytes("UTF-8")
      val rz = Multimodal.resizeStub(bytes)
      assert(out(id) == (bytes.length.toLong, rz.length.toLong, hexMd5(rz)),
        s"doc $id")
    }
  }

  // md5 of the LOWERCASE HEX encoding — the byte-level digest contract
  // both engines can hash (this DuckDB build has no md5(BLOB))
  private def hexMd5(bytes: Array[Byte]): String = {
    val hx = bytes.map("%02x".format(_)).mkString
    java.security.MessageDigest.getInstance("MD5")
      .digest(hx.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("q120/q121 handle MULTIBYTE payloads: the byte-walk diverges from a char-walk and matches a driver replay") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_mm_mb")
    // '¤' is 2 UTF-8 bytes: byte length ≠ char length by construction,
    // and frames straddle multibyte boundaries
    val texts = Map(
      1L -> ("abc¤def¤ghi¤jkl¤mno¤pqr¤stu¤vwx" * 2),
      2L -> "¤¤¤¤¤¤¤¤¤¤¤¤¤¤¤¤",
      3L -> "plain ascii only, thirty-two ch")
    texts.toSeq.map { case (id, t) => (id, "s", "xx", t, t.length) }
      .toDF("doc_id", "source", "lang", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // byte length must differ from char length for the fixture to bite
    assert(texts(1L).getBytes("UTF-8").length != texts(1L).length)

    val fb = Multimodal.FRAME_BYTES
    val fs = Multimodal.FRAME_STRIDE
    val frames = Multimodal.queries("q120_mm_frames")(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getString(5))).toMap
    val expFrames = texts.toSeq.flatMap { case (id, t) =>
      val bytes = t.getBytes("UTF-8")
      if (bytes.length < fb) Seq.empty
      else (0L until (bytes.length / fb).toLong by fs.toLong).map { fi =>
        val frame = bytes.slice((fi * fb).toInt, (fi * fb).toInt + fb)
        (id, fi) -> (bytes.length.toLong, (bytes.length / fb).toLong,
          fi * fb, hexMd5(frame))
      }
    }.toMap
    assert(frames == expFrames)

    val rz = Multimodal.queries("q121_mm_resize")(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    texts.foreach { case (id, t) =>
      val bytes = t.getBytes("UTF-8")
      val out = Multimodal.resizeStub(bytes)
      assert(rz(id) == (bytes.length.toLong, out.length.toLong, hexMd5(out)),
        s"doc $id")
    }

    // q112 decode features walk the same bytes
    def r4d(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val feats = Multimodal.queries("q112_mm_features")(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    texts.foreach { case (id, t) =>
      val bytes = t.getBytes("UTF-8")
      assert(feats(id) == ((bytes.length.toLong,
        Multimodal.decodeStub(bytes).toSeq.map(r4d))), s"doc $id")
    }
  }

  test("q112 features equal a driver-side decodeStub replay of the same corpus") {
    import org.apache.spark.sql.functions.col
    val out = Multimodal.queries("q112_mm_features")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    val texts = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == texts.count { case (_, t) => t.nonEmpty })
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    out.foreach { case (id, (nBytes, feats)) =>
      val payload = texts(id).getBytes("UTF-8")
      assert(nBytes == payload.length.toLong)
      assert(feats == Multimodal.decodeStub(payload).toSeq.map(r4),
        s"doc $id feature mismatch")
    }
  }
}
