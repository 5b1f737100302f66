package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TfRecordCodecImpl, TfRecordFunctions}

/** Laws of the TFRecord frame codec: the public check vector for
  * CRC32C, the TFRecord mask, frame layout, the parse inverse, and
  * malformed tolerance. */
class TfRecordSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CRC32C check vector and TFRecord mask") {
    // the Castagnoli check value: crc32c("123456789") = 0xE3069283
    // (public test vector, e.g. RFC 3720 appendix B.4's polynomial)
    val c = new java.util.zip.CRC32C()
    c.update("123456789".getBytes("US-ASCII"))
    assert(c.getValue == 0xE3069283L)
    // the mask applied to that value, by the published formula
    val bytes = "123456789".getBytes("US-ASCII")
    val masked = TfRecordCodecImpl.maskedCrc(bytes, 0, bytes.length)
    val crc = 0xE3069283L
    assert(masked ==
      ((((crc >>> 15) | ((crc << 17) & 0xffffffffL)) + 0xa282ead8L)
        & 0xffffffffL))
  }

  test("frame layout: 8-byte LE length, masked length CRC, 4-byte LE " +
      "ids, masked payload CRC") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val framed = TfRecordCodecImpl.frame(
      new GenericArrayData(Array[Any](1L, 258L)))
    assert(framed.length == 16 + 8)
    // length = 8, little-endian
    assert(framed.take(8).toSeq == Seq[Byte](8, 0, 0, 0, 0, 0, 0, 0))
    // ids: 1 -> 01 00 00 00, 258 -> 02 01 00 00
    assert(framed.slice(12, 20).toSeq ==
      Seq[Byte](1, 0, 0, 0, 2, 1, 0, 0))
    val parsed = TfRecordCodecImpl.parse(framed)
    assert(parsed.getLong(0) == 2L && parsed.getBoolean(1) &&
      parsed.getBoolean(2))
  }

  test("roundtrip property: parse(frame(ids)) recovers ids with both " +
      "CRCs valid; a flipped byte is detected") {
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { _ =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val ids = List.fill(rnd.nextInt(40))(
        rnd.nextLong().abs % 0x100000000L)
      val framed = TfRecordCodecImpl.frame(
        new GenericArrayData(ids.toArray[Any]))
      val p = TfRecordCodecImpl.parse(framed)
      val back = (0 until p.getLong(0).toInt)
        .map(i => p.getArray(3).getLong(i)).toList
      assert(p.getBoolean(1) && p.getBoolean(2) && back == ids &&
        framed.length == 16 + 4 * ids.length,
        s"roundtrip failed for $ids")
    }
    // corrupt one payload byte: data CRC must catch it
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val framed = TfRecordCodecImpl.frame(
      new GenericArrayData(Array[Any](7L, 9L)))
    framed(13) = (framed(13) ^ 0x40).toByte
    val p = TfRecordCodecImpl.parse(framed)
    assert(p.getBoolean(1) && !p.getBoolean(2),
      "a corrupted payload must fail the data CRC but not the length CRC")
  }

  test("malformed tolerance: short buffers, wrong lengths, ragged " +
      "payloads yield the (-1, false, false, []) row, never a throw") {
    assert(TfRecordCodecImpl.parse(null).getLong(0) == -1L)
    assert(TfRecordCodecImpl.parse(Array.empty[Byte]).getLong(0) == -1L)
    assert(TfRecordCodecImpl.parse(Array.fill[Byte](15)(0)).getLong(0) == -1L)
    // length field inconsistent with the buffer
    val bad = Array.fill[Byte](20)(0); bad(0) = 99
    assert(TfRecordCodecImpl.parse(bad).getLong(0) == -1L)
    // length not a multiple of 4
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val ok = TfRecordCodecImpl.frame(new GenericArrayData(Array[Any](5L)))
    val ragged = ok.take(8).toArray ++ ok.drop(8)
    ragged(0) = 3 // 3-byte payload claim
    assert(TfRecordCodecImpl.parse(
      ragged.take(12) ++ Array[Byte](1, 2, 3) ++ Array.fill[Byte](4)(0))
      .getLong(0) == -1L)
  }

  test("stream split: lossless at the length headers — well-formed " +
      "streams split into parseable frames, a truncated tail is emitted " +
      "verbatim, and concatenating elements reproduces the input") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val f1 = TfRecordCodecImpl.frame(new GenericArrayData(Array[Any](1L, 2L)))
    val f2 = TfRecordCodecImpl.frame(new GenericArrayData(Array[Any](7L)))
    val f3 = TfRecordCodecImpl.frame(new GenericArrayData(Array.empty[Any]))
    val stream = f1 ++ f2 ++ f3
    val parts = TfRecordCodecImpl.splitStream(stream)
    assert(parts.numElements() == 3)
    assert(parts.getBinary(0).toSeq == f1.toSeq)
    assert(parts.getBinary(1).toSeq == f2.toSeq)
    assert(parts.getBinary(2).toSeq == f3.toSeq)
    (0 until 3).foreach { i =>
      val p = TfRecordCodecImpl.parse(parts.getBinary(i))
      assert(p.getBoolean(1) && p.getBoolean(2))
    }
    // truncated tail: the broken remainder comes back as ONE element the
    // parse side flags malformed — and the split stays byte-lossless
    val cut = stream.take(stream.length - 3)
    val parts2 = TfRecordCodecImpl.splitStream(cut)
    assert(parts2.numElements() == 3)
    assert((0 until 3).flatMap(i => parts2.getBinary(i).toSeq) == cut.toSeq)
    assert(TfRecordCodecImpl.parse(parts2.getBinary(2)).getLong(0) == -1L)
    // an absurd length header (overruns the buffer) ends the split with
    // the verbatim remainder, never an allocation of the claimed size
    val bogus = Array.fill[Byte](24)(0x7f.toByte)
    val parts3 = TfRecordCodecImpl.splitStream(bogus)
    assert(parts3.numElements() == 1 &&
      parts3.getBinary(0).toSeq == bogus.toSeq)
  }

  test("tfrecord_frame propagates NULL: a null token array yields a " +
      "null frame, not a fabricated valid empty record; an EMPTY array " +
      "still frames to the 16-byte record") {
    TfRecordFunctions.register(spark)
    import org.apache.spark.sql.functions.col
    import TfRecordFunctions.tfrecord_frame
    val df = Seq((1L, Some(Seq(1L, 2L))), (2L, None),
        (3L, Some(Seq.empty[Long])))
      .toDF("id", "token_ids")
      .select(col("id"), tfrecord_frame(col("token_ids")).as("framed"))
      .orderBy("id")
      .as[(Long, Option[Array[Byte]])].collect().toSeq
    assert(df(0)._2.get.length == 16 + 8)
    assert(df(1)._2.isEmpty, "null in must be null out")
    assert(df(2)._2.get.length == 16,
      "an empty (non-null) array is a real empty-payload record")
  }

  test("file roll: a shard over maxBytesPerFile splits into multiple " +
      ".tfrecord files whose names carry the first-record RANK, and the " +
      "re-read recovers every (shard, bin, ids) across the boundaries") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_tfroll")
    val src = base.resolve("src").toString
    // a tiny tokenized-shard-like artifact: shard 0 holds 5 bins, each
    // record 16 + 4·2 = 24 bytes — maxBytesPerFile = 50 fits two
    // records per file, forcing two rolls
    val rows = (0L until 5L).map(b => (0L, b, Seq(b * 10, b * 10 + 1)))
      .toDF("shard", "bin", "token_ids")
    rows.repartition(1).write.partitionBy("shard").parquet(src)
    graft.data.IndexManifest.commit(spark, src,
      graft.data.IndexManifest.Snapshot.Empty, graft.data.IndexManifest.Delta(
        graft.data.IndexManifest.listDataFiles(spark, src)))
    val out = base.resolve("tfr").toString
    TrainQueries.writeTfRecordShards(spark, src, out,
      maxBytesPerFile = 50L)
    val files = new java.io.File(out, "shard=0").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".tfrecord"))
      .sortBy(_.getName)
    assert(files.length == 3, s"expected 3 rolled files, got " +
      files.map(_.getName).mkString(", "))
    // names carry the roll offsets: ranks 0, 2, 4 start the files (the
    // middle token is the attempt id — speculation-safe uniqueness)
    assert(files.map(_.getName)
      .forall(_.matches("part-\\d+-[0-9a-f-]{8}-r\\d+\\.tfrecord")))
    assert(files.flatMap(f =>
      "-r(\\d+)".r.findFirstMatchIn(f.getName).map(_.group(1).toLong))
      .toSeq == Seq(0L, 2L, 4L))
    // re-read across the boundaries: every record recovered at its rank
    // (bins here are contiguous from 0, so rank == bin)
    val got = files.flatMap { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val r0 = "-r(\\d+)".r.findFirstMatchIn(f.getName).get.group(1).toLong
      val parts = TfRecordCodecImpl.splitStream(bytes)
      (0 until parts.numElements()).map { i =>
        val p = TfRecordCodecImpl.parse(parts.getBinary(i))
        assert(p.getBoolean(1) && p.getBoolean(2))
        (r0 + i) -> p.getArray(3).toLongArray().toSeq
      }
    }.toMap
    assert(got == (0L until 5L).map(b => b -> Seq(b * 10, b * 10 + 1)).toMap)
    // and the manifest lists all three files (the pinned read-back path)
    assert(graft.data.IndexManifest.load(spark, out).get.dataFiles.length == 3)
  }

  test("bin gaps: skipped bin numbers (an oversized document advancing " +
      "the running offset by more than one bin) cost no extra files and " +
      "recovery stays exact — position is RANK, not bin, and the true " +
      "bin is recovered through the index side's bin order") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_tfgap")
    val src = base.resolve("src").toString
    // shard 0 bins 0,1,5,6 — the 1→5 gap is what a 4-bin-long document
    // leaves behind
    Seq(0L, 1L, 5L, 6L).map(b => (0L, b, Seq(b * 10, b * 10 + 1)))
      .toDF("shard", "bin", "token_ids")
      .repartition(1).write.partitionBy("shard").parquet(src)
    graft.data.IndexManifest.commit(spark, src,
      graft.data.IndexManifest.Snapshot.Empty, graft.data.IndexManifest.Delta(
        graft.data.IndexManifest.listDataFiles(spark, src)))
    val out = base.resolve("tfr").toString
    TrainQueries.writeTfRecordShards(spark, src, out)
    val files = new java.io.File(out, "shard=0").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".tfrecord"))
    assert(files.length == 1 && files.head.getName.contains("-r0."),
      s"a bin gap must not roll files: ${files.map(_.getName).mkString(", ")}")
    // rank-based recovery across the gap is exact: every record
    // roundtrips against its parquet row at the true (non-contiguous) bin
    val agg = TrainQueries.tfrFileAggregate(spark, src, out)
      .select($"shard", $"n_records", $"n_roundtrip_ok")
      .as[(Long, Long, Long)].collect().toSeq
    assert(agg == Seq((0L, 4L, 4L)), s"gap recovery broken: $agg")
  }

  test("maintained tfrecord artifact: an append emits CONTINUATION " +
      "files only (stored files untouched), a replay commits nothing, " +
      "the bins artifact increments exactly, and the file aggregate " +
      "equals a from-scratch export of the merged state") {
    import org.apache.spark.sql.functions._
    import graft.data.IndexManifest
    val base = java.nio.file.Files.createTempDirectory("graft_tfrapp")
    val src = base.resolve("src").toString
    (0L until 3L).map(b => (0L, b, Seq(b * 10, b * 10 + 1)))
      .toDF("shard", "bin", "token_ids")
      .repartition(1).write.partitionBy("shard").parquet(src)
    IndexManifest.commit(spark, src, IndexManifest.Snapshot.Empty,
      IndexManifest.Delta(IndexManifest.listDataFiles(spark, src)))
    val out = base.resolve("tfr").toString
    TrainQueries.writeTfRecordShards(spark, src, out)
    val files1 = IndexManifest.load(spark, out).get.dataFiles.toSet
    // the SOURCE grows by continuation bins 3..4 (a staged parquet
    // append, the tokenized-shard maintenance shape)
    val added = IndexManifest.stageAppend(
      (3L until 5L).map(b => (0L, b, Seq(b * 10, b * 10 + 1)))
        .toDF("shard", "bin", "token_ids").repartition(1),
      src, "shard")
    IndexManifest.commit(spark, src, IndexManifest.load(spark, src).get,
      IndexManifest.Delta(added), retainVersions = 4)
    // roll the wire-format artifact forward: new files only
    TrainQueries.appendTfRecordShards(spark, src, out)
    val files2 = IndexManifest.load(spark, out).get.dataFiles.toSet
    assert(files1.subsetOf(files2) && files2.size > files1.size,
      "an append must add continuation files and rewrite nothing")
    assert(files1.forall(f => new java.io.File(out, f).exists()),
      "stored wire-format files must stay physically untouched")
    // replay: the source is unchanged since the sync — commit NOTHING
    val v = IndexManifest.load(spark, out).get.version
    TrainQueries.appendTfRecordShards(spark, src, out)
    assert(IndexManifest.load(spark, out).get.version == v,
      "a replayed tfrecord append must not mint a manifest version")
    // the bins artifact is exact coverage of what is at rest
    val bins = IndexManifest.readArtifact(spark, out, "bins")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(bins.map(b => (b._1, b._2, b._3)) == Seq((0L, 4L, 5L)),
      s"bins artifact must read (shard 0, max_bin 4, 5 records): $bins")
    // file-layout independence: the maintained artifact aggregates
    // byte-identically to a from-scratch export of the merged state
    val fresh = base.resolve("tfr_full").toString
    TrainQueries.writeTfRecordShards(spark, src, fresh)
    val agg = TrainQueries.tfrFileAggregate(spark, src, out).collect().toSeq
    val full = TrainQueries.tfrFileAggregate(spark, src, fresh).collect().toSeq
    assert(agg == full,
      s"maintained vs from-scratch aggregate differ:\n$agg\n$full")
  }

  test("the tfrecord byte sink's task-side filesystem comes from the " +
      "SESSION Hadoop configuration: a session-set key survives the " +
      "closure serialization a bare new Configuration() would drop") {
    // a RUNTIME session conf key: copied verbatim into newHadoopConf()
    // (static spark.hadoop.* prefix-stripping happens only at
    // SparkContext creation) — exactly the class of setting a bare
    // task-side `new Configuration()` loses
    spark.conf.set("graft.probe.key", "visible")
    try {
      val hc = spark.sessionState.newHadoopConf()
      assert(hc.get("graft.probe.key") == "visible")
      val ser = new org.apache.spark.util.SerializableConfiguration(hc)
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(ser); oos.close()
      val back = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[org.apache.spark.util.SerializableConfiguration]
      assert(back.value.get("graft.probe.key") == "visible",
        "the serialized session conf must carry session-set keys task-side")
    } finally spark.conf.unset("graft.probe.key")
  }

  test("task-commit claim primitive: a second attempt's exclusive " +
      "create of the committed listing is refused atomically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tfclaim")
    val p = new org.apache.hadoop.fs.Path(dir.resolve("committed-00000").toString)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val first = fs.create(p, false)
    first.write("shard=0/a.tfrecord".getBytes("UTF-8")); first.close()
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      fs.create(p, false)
    }
    // the winner's listing is intact
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(body == "shard=0/a.tfrecord")
  }

  test("the registered SQL functions run inside a plan and agree with " +
      "the direct impl") {
    TfRecordFunctions.register(spark)
    import graft.functions.TfRecordFunctions.{tfrecord_frame, tfrecord_parse}
    val df = Seq((1L, Seq(3L, 1000000L)), (2L, Seq.empty[Long]))
      .toDF("id", "ids")
      .select($"id", tfrecord_parse(tfrecord_frame($"ids")).as("p"))
      .select($"id", $"p.n_ids", $"p.len_crc_ok", $"p.data_crc_ok", $"p.ids")
      .as[(Long, Long, Boolean, Boolean, Seq[Long])]
      .collect().sortBy(_._1).toSeq
    assert(df == Seq((1L, 2L, true, true, Seq(3L, 1000000L)),
      (2L, 0L, true, true, Seq.empty)))
  }
}
