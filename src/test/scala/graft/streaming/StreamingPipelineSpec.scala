package graft.streaming

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.{Pipeline, SparkSpec}

/** Streaming ETL: file-source drain via AvailableNow + checkpointed
  * exactly-once file consumption; watermarked window aggregate.
  */
class StreamingPipelineSpec extends SparkSpec with BeforeAndAfterAll {

  private var inDir: Path = _
  private var outDir: Path = _
  private var ckDir: Path = _
  private val header = graft.operators.Layout.validColumns.mkString(",")

  override def beforeAll(): Unit = {
    inDir = Files.createTempDirectory("st_in")
    outDir = Files.createTempDirectory("st_out")
    ckDir = Files.createTempDirectory("st_ck")
  }

  test("AvailableNow drains pending files through the shared ETL core") {
    Files.write(inDir.resolve("report_s1.txt"),
      (header + "\nalice@example.com,x,-,-,01/02/2024 10:00,,1,0,,0,0,-,-,-,-" +
        "\nbadmail,x,-,-,01/02/2024 10:00,,1,0,,0,0,-,-,-,-").getBytes)
    val q = StreamingPipeline.runAvailableNow(
      spark, inDir.toString, outDir.toString, ckDir.toString, Date.valueOf("2024-02-15"))
    q.awaitTermination(120000)

    val vis = Pipeline.currentVisitantes(spark, outDir.toString).get.collect()
    assert(vis.map(_.getString(0)).toSeq == Seq("alice@example.com"))
    assert(spark.read.parquet(s"$outDir/errores").count() == 1)
  }

  test("restart with checkpoint: consumed files are not reprocessed, new ones are") {
    Files.write(inDir.resolve("report_s2.txt"),
      (header + "\ndave@example.com,q,-,-,11/03/2024 14:00,,2,1,,1,0,-,-,-,-").getBytes)
    val q = StreamingPipeline.runAvailableNow(
      spark, inDir.toString, outDir.toString, ckDir.toString, Date.valueOf("2024-03-20"))
    q.awaitTermination(120000)

    val vis = Pipeline.currentVisitantes(spark, outDir.toString).get
      .orderBy("email").collect()
    assert(vis.map(_.getString(0)).toSeq == Seq("alice@example.com", "dave@example.com"))
    assert(vis(0).getInt(3) == 1) // alice NOT double-counted on restart
    val bit = spark.read.parquet(s"$outDir/bitacora")
    assert(bit.filter(col("nombreArchivo") === "report_s1.txt").count() == 1)
  }

  test("post-drain reconcile ledgers zero-row files (good header Completado, bad Fallido)") {
    // header-only files are invisible to foreachBatch (no data rows) — the
    // reconcile pass must ledger them so they never re-enter
    Files.write(inDir.resolve("report_empty_ok.txt"), (header + "\n").getBytes)
    Files.write(inDir.resolve("report_empty_bad.txt"), "email,wrong\n".getBytes)
    val q = StreamingPipeline.runAvailableNow(
      spark, inDir.toString, outDir.toString, ckDir.toString, Date.valueOf("2024-04-01"))
    q.awaitTermination(120000)
    StreamingPipeline.reconcilePendingFiles(
      spark, inDir.toString, outDir.toString, Date.valueOf("2024-04-01"))
    val bit = spark.read.parquet(s"$outDir/bitacora")
      .filter(col("nombreArchivo").startsWith("report_empty"))
      .collect().map(r => r.getAs[String]("nombreArchivo") -> r.getAs[String]("estatus")).toMap
    assert(bit == Map("report_empty_ok.txt" -> "Completado",
      "report_empty_bad.txt" -> "Fallido"))
    // idempotent: a second reconcile adds nothing
    StreamingPipeline.reconcilePendingFiles(
      spark, inDir.toString, outDir.toString, Date.valueOf("2024-04-01"))
    assert(spark.read.parquet(s"$outDir/bitacora")
      .filter(col("nombreArchivo").startsWith("report_empty")).count() == 2)
  }

  test("streaming foreachBatch routes through the JDBC SinkMode (Derby) — sink parity with batch") {
    val jIn = Files.createTempDirectory("st_jdbc_in")
    val jCk = Files.createTempDirectory("st_jdbc_ck")
    val jOut = Files.createTempDirectory("st_jdbc_out") // scratch staging only
    val sink = graft.SinkMode.Jdbc(s"jdbc:derby:${jOut.resolve("db")};create=true")
    val props = new java.util.Properties

    Files.write(jIn.resolve("report_j1.txt"),
      (header + "\nalice@example.com,x,-,-,01/02/2024 10:00,,1,0,,0,0,-,-,-,-" +
        "\nbadmail,x,-,-,01/02/2024 10:00,,1,0,,0,0,-,-,-,-").getBytes)
    val q = StreamingPipeline.runAvailableNow(spark, jIn.toString, jOut.toString,
      jCk.toString, Date.valueOf("2024-02-15"), sink = sink)
    q.awaitTermination(120000)
    val vis = spark.read.jdbc(sink.url, "visitantes", props).collect()
    assert(vis.map(_.getAs[String]("email")).toSeq == Seq("alice@example.com"))
    assert(spark.read.jdbc(sink.url, "errores", props).count() == 1)
    assert(spark.read.jdbc(sink.url, "bitacora", props).count() == 1)

    // second drain merges a new file through the same JDBC path (the ledger
    // read and the visitantes staging replace both hit Derby, not parquet)
    Files.write(jIn.resolve("report_j2.txt"),
      (header + "\nalice@example.com,x,-,-,12/03/2024 16:45,,1,0,,0,0,-,-,-,-").getBytes)
    val q2 = StreamingPipeline.runAvailableNow(spark, jIn.toString, jOut.toString,
      jCk.toString, Date.valueOf("2024-03-20"), sink = sink)
    q2.awaitTermination(120000)
    val vis2 = spark.read.jdbc(sink.url, "visitantes", props).collect()
    assert(vis2.length == 1 && vis2(0).getAs[Int]("visitasTotales") == 2)
    assert(spark.read.jdbc(sink.url, "bitacora", props).count() == 2)

    // zero-row reconcile against the JDBC ledger too
    Files.write(jIn.resolve("report_j_empty.txt"), (header + "\n").getBytes)
    val q3 = StreamingPipeline.runAvailableNow(spark, jIn.toString, jOut.toString,
      jCk.toString, Date.valueOf("2024-03-21"), sink = sink)
    q3.awaitTermination(120000)
    StreamingPipeline.reconcilePendingFiles(spark, jIn.toString, jOut.toString,
      Date.valueOf("2024-03-21"), sink = sink)
    val led = spark.read.jdbc(sink.url, "bitacora", props)
      .filter(col("nombreArchivo") === "report_j_empty.txt").collect()
    assert(led.length == 1 && led(0).getAs[String]("estatus") == "Completado")
  }

  test("streaming dedup gate: persisted index drops corpus dups, self dups, and CROSS-BATCH dups") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val canonical = "the quick brown fox jumps over the lazy dog and runs away fast"
    val fresh = "completely different content about spark distributed engines here"
    val corpus = Seq((1L, canonical), (2L, canonical)).toDF("doc_id", "text")
    val idxDir = Files.createTempDirectory("gate_idx").toString
    val gOut = Files.createTempDirectory("gate_out").toString
    val gCk = Files.createTempDirectory("gate_ck").toString
    Dedup.buildDedupIndex(corpus, "doc_id", "text", idxDir)

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    // batch 1: 10 fresh; 11 near-dup of the corpus; 12 exact self-dup of 10
    stream.addData((10L, fresh),
      (11L, "the quick brown fox jumps over the lazy dog and walks away fast"),
      (12L, fresh))
    val q1 = StreamingPipeline.dedupGateStream(docs, idxDir, gOut, gCk)
    q1.awaitTermination(120000)
    val after1 = spark.read.parquet(gOut).select("doc_id").as[Long].collect().toSet
    assert(after1 == Set(10L), s"after batch 1: $after1")

    // batch 2 (fresh drain, same checkpoint + index): 20 duplicates the
    // ADMITTED doc 10 — only the appended index can know that; 21 is fresh
    stream.addData((20L, fresh),
      (21L, "der schnelle braune fuchs springt ueber den faulen hund gerade"))
    val q2 = StreamingPipeline.dedupGateStream(docs, idxDir, gOut, gCk)
    q2.awaitTermination(120000)
    val after2 = spark.read.parquet(gOut).select("doc_id").as[Long].collect().toSet
    assert(after2 == Set(10L, 21L), s"after batch 2: $after2")
  }

  test("bounded-batch drain: maxFilesPerTrigger=1 runs one micro-batch per file with the same final state as one big batch") {
    import graft.operators.Dedup
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import spark.implicits._
    // round-17 verdict item 5: AvailableNow alone drains a whole backlog
    // into ONE micro-batch; with the rate-limit knob it must drain as a
    // SEQUENCE of bounded batches whose final state (admitted set + index)
    // is identical — the gates' per-batch replay protocols are
    // batch-size-agnostic, so this is plumbing + proof.
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val canonical = "the quick brown fox jumps over the lazy dog and runs away fast"
    // six files, ids strictly increasing across files and mtimes forced
    // into id order, so the greedy keep-smallest admission is the same
    // whether the drain sees one batch or six; the dup structure SPANS
    // files (31 exactly duplicates file-0's 10, 51 duplicates file-2's 30)
    // so the multi-batch run exercises the cross-batch index, not just
    // within-batch self-dedup
    val fileDocs: Seq[Seq[(Long, String)]] = Seq(
      Seq(10L -> "completely different content about spark distributed engines here"),
      Seq(20L -> canonical), // near-dups the prebuilt corpus index (doc 1)
      Seq(30L -> "unrelated text on tokenizer vocabularies and training data mixtures"),
      Seq(31L -> "completely different content about spark distributed engines here"),
      Seq(40L -> "brand new prose about watermark state expiry semantics today"),
      Seq(51L -> "unrelated text on tokenizer vocabularies and training data mixtures"))
    def writeInput(): String = {
      val in = Files.createTempDirectory("bb_in")
      fileDocs.zipWithIndex.foreach { case (docs, i) =>
        // one real FILE per input (the stream source does not recurse into
        // write-created parquet DIRECTORIES): write, then hoist the single
        // part file up under a name whose mtime we control for batch order
        val tmp = Files.createTempDirectory(s"bb_tmp_$i")
        docs.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(fail(s"no part file written for input $i"))
        val dst = in.resolve(f"doc_$i%02d.parquet")
        Files.move(part.toPath, dst)
        assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
      in.toString
    }
    def drain(maxFiles: Option[Int]): (Set[Long], Long, Int) = {
      val idx = Files.createTempDirectory("bb_idx").toString
      val out = Files.createTempDirectory("bb_out").toString
      val ck = Files.createTempDirectory("bb_ck").toString
      Dedup.buildDedupIndex(Seq((1L, canonical)).toDF("doc_id", "text"),
        "doc_id", "text", idx)
      val q = StreamingPipeline.dedupGateStream(
        StreamingPipeline.docStream(spark, writeInput(), schema, maxFiles),
        idx, out, ck)
      q.awaitTermination(180000)
      val admitted = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
      val indexRows = spark.read.parquet(s"$idx/fps").count()
      val nBatches = new java.io.File(out).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("batch="))
      (admitted, indexRows, nBatches)
    }
    val (bounded, boundedIdx, boundedBatches) = drain(Some(1))
    val (oneShot, oneShotIdx, oneShotBatches) = drain(None)
    assert(boundedBatches == fileDocs.size,
      s"expected one micro-batch per file, got $boundedBatches")
    assert(oneShotBatches == 1, s"unbounded drain split into $oneShotBatches batches")
    val expected = Set(10L, 30L, 40L) // 20 near-dups corpus; 31/51 exact cross-file dups
    assert(bounded == expected, s"bounded drain admitted $bounded")
    assert(oneShot == expected, s"one-shot drain admitted $oneShot")
    assert(boundedIdx == oneShotIdx,
      s"index diverged: bounded $boundedIdx rows vs one-shot $oneShotIdx")
  }

  test("dedup gate replay re-emits survivors instead of re-filtering (at-least-once safety)") {
    import graft.operators.Dedup
    import spark.implicits._
    val canonical = "the quick brown fox jumps over the lazy dog and runs away fast"
    val fresh1 = "completely different content about spark distributed engines here"
    val fresh2 = "unrelated text on tokenizer vocabularies and training data mixtures"
    val idxDir = Files.createTempDirectory("rp_idx").toString
    val out = Files.createTempDirectory("rp_out").toString
    Dedup.buildDedupIndex(Seq((1L, canonical)).toDF("doc_id", "text"),
      "doc_id", "text", idxDir)

    // 10/12 fresh, 11 near-dups the corpus doc
    val batch = Seq((10L, fresh1),
      (11L, "the quick brown fox jumps over the lazy dog and walks away fast"),
      (12L, fresh2)).toDF("doc_id", "text")
    StreamingPipeline.dedupGateBatch(batch, 0L, idxDir, out)
    def emitted() = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(emitted() == Set(10L, 12L), s"first run: ${emitted()}")

    // replay AFTER full commit (index has 10/12, marker present): the old
    // append-then-write order would find the docs in the index, filter them
    // all out, and overwrite the output empty — survivors must re-emit
    StreamingPipeline.dedupGateBatch(batch, 0L, idxDir, out)
    assert(emitted() == Set(10L, 12L), s"after committed replay: ${emitted()}")

    // replay after the WORST crash point: index appended but marker lost —
    // self-exclusion must still re-admit 10/12, and the re-append (duplicate
    // index rows) must not corrupt later gating
    val marker = new org.apache.hadoop.fs.Path(s"$idxDir/_committed/batch-0")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, true)
    StreamingPipeline.dedupGateBatch(batch, 0L, idxDir, out)
    assert(emitted() == Set(10L, 12L), s"after marker-loss replay: ${emitted()}")

    // next batch still dedups against everything admitted so far
    StreamingPipeline.dedupGateBatch(
      Seq((20L, fresh1), (21L, "brand new prose about watermark state expiry"))
        .toDF("doc_id", "text"), 1L, idxDir, out)
    assert(emitted() == Set(10L, 12L, 21L), s"after batch 1: ${emitted()}")

    // index REBUILD clears the committed markers: a fresh stream restarting
    // at batch 0 must append to the new index, not skip on a stale marker
    Dedup.buildDedupIndex(Seq((1L, canonical)).toDF("doc_id", "text"),
      "doc_id", "text", idxDir)
    val out2 = Files.createTempDirectory("rp_out2").toString
    StreamingPipeline.dedupGateBatch(
      Seq((30L, fresh1)).toDF("doc_id", "text"), 0L, idxDir, out2)
    StreamingPipeline.dedupGateBatch(
      Seq((31L, fresh1)).toDF("doc_id", "text"), 1L, idxDir, out2)
    val emitted2 = spark.read.parquet(out2).select("doc_id").as[Long].collect().toSet
    assert(emitted2 == Set(30L), s"rebuilt-index gate: $emitted2") // 31 caught by 30's append
  }

  test("streaming media gate: perceptual index drops image dups across batches; replay re-emits; undecodable never admitted") {
    import graft.operators.Multimodal
    import spark.implicits._
    // synthetic grid images: ids sharing id/4 are in-group (Hamming <= 3
    // pairwise — MultimodalSpec pins this); cross-group sigs are md5-random
    def images(ids: Long*): org.apache.spark.sql.DataFrame = Multimodal
      .syntheticGridImages(ids.toDF("media_id"), "media_id")
    def payloads(ids: Long*): Seq[(Long, Array[Byte])] =
      images(ids: _*).collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
    val idxDir = Files.createTempDirectory("media_idx").toString
    val out = Files.createTempDirectory("media_out").toString
    val quar = Files.createTempDirectory("media_quar").toString
    // corpus index: one image from group 0 (id 0) and one from group 1 (id 4)
    Multimodal.buildMediaIndex(images(0L, 4L), idxDir)

    // batch 0: 1 near-dups indexed 0; 8/9 in-group self-pair (keep 8);
    // 16 fresh; 99 undecodable (no signature -> quarantined, never admitted)
    val b0 = (payloads(1L, 8L, 9L, 16L) :+ (99L -> "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    StreamingPipeline.mediaGateBatch(b0, 0L, idxDir, out, quarantineDir = Some(quar))
    def emitted() = spark.read.parquet(out).select("media_id").as[Long].collect().toSet
    assert(emitted() == Set(8L, 16L), s"after batch 0: ${emitted()}")
    // the signature-less row is accounted for, not silently lost — and
    // dropped DUPLICATES are not quarantine (they were deduplicated)
    def quarantined() = spark.read.parquet(quar).select("media_id").as[Long].collect().toSet
    assert(quarantined() == Set(99L), s"quarantine: ${quarantined()}")

    // replay after full commit: survivors re-emit instead of self-filtering
    StreamingPipeline.mediaGateBatch(b0, 0L, idxDir, out, quarantineDir = Some(quar))
    assert(emitted() == Set(8L, 16L), s"after committed replay: ${emitted()}")
    assert(quarantined() == Set(99L), s"quarantine after replay: ${quarantined()}")

    // batch 1: 10 duplicates ADMITTED 8 (group 2 — only the appended index
    // knows); 20 is fresh (group 5)
    val b1 = payloads(10L, 20L).toDF("media_id", "payload")
    StreamingPipeline.mediaGateBatch(b1, 1L, idxDir, out)
    assert(emitted() == Set(8L, 16L, 20L), s"after batch 1: ${emitted()}")

    // worst crash point, CRASH LOOP form (round-17 advice item 2): the
    // append landed but the marker didn't, repeatedly. The batch-scoped
    // overwrite append must REWRITE sigs/b1 each replay — the blind-append
    // form accumulated one duplicate (media_id, dhash) row set per loop
    val marker = new org.apache.hadoop.fs.Path(s"$idxDir/_committed/batch-1")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def indexRows() = Multimodal.mediaIndexSigs(spark, idxDir)
    val committedIndex = indexRows().count()
    for (_ <- 1 to 3) {
      assert(fs.delete(marker, true), "marker should exist before the crash replay")
      StreamingPipeline.mediaGateBatch(b1, 1L, idxDir, out)
    }
    assert(indexRows().count() == committedIndex,
      s"crash-loop replays grew the index: ${indexRows().count()} vs $committedIndex")
    assert(indexRows().select("media_id").distinct().count() == committedIndex,
      "duplicate media_id rows in the index after crash-loop replays")
    assert(emitted() == Set(8L, 16L, 20L), s"after crash-loop replays: ${emitted()}")
  }

  test("media index compaction folds batch subdirs distinct; gating unchanged; crash-safe entry") {
    import graft.operators.Multimodal
    import spark.implicits._
    def images(ids: Long*) = Multimodal
      .syntheticGridImages(ids.toDF("media_id"), "media_id")
    def payloads(ids: Long*) = images(ids: _*).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
    val idx = Files.createTempDirectory("mc_idx").toString
    val out = Files.createTempDirectory("mc_out").toString
    Multimodal.buildMediaIndex(images(0L), idx)
    // two admitted batches -> two b<id> subdirs next to base
    StreamingPipeline.mediaGateBatch(payloads(8L).toDF("media_id", "payload"), 0L, idx, out)
    StreamingPipeline.mediaGateBatch(payloads(16L).toDF("media_id", "payload"), 1L, idx, out)
    // manufacture a duplicate signature row under a stray batch id (the
    // only dup source left is operator misuse; compaction must fold it)
    Multimodal.appendToMediaIndex(Multimodal.dHashSigs(images(16L)), idx, 99L)
    assert(Multimodal.mediaIndexSigs(spark, idx).count() == 4)
    val (before, after) = Multimodal.compactMediaIndex(spark, idx)
    assert(before == 4 && after == 3, s"compacted $before -> $after")
    assert(new java.io.File(s"$idx/sigs").listFiles().count(_.isDirectory) == 1,
      "batch subdirs should fold into a single base dir")
    // gating behavior identical over the compacted index: 17 is in-group
    // with admitted 16 (dropped), 24 is fresh (admitted)
    StreamingPipeline.mediaGateBatch(payloads(17L, 24L).toDF("media_id", "payload"), 2L, idx, out)
    val emitted = spark.read.parquet(out).select("media_id").as[Long].collect().toSet
    assert(emitted == Set(8L, 16L, 24L), s"after compaction+batch 2: $emitted")
    // crash-safe entry: a crash between the two swap renames leaves sigs
    // absent and sigs.compact.old present — the next compaction recovers
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/sigs"),
      new org.apache.hadoop.fs.Path(s"$idx/sigs.compact.old")))
    val (b2, a2) = Multimodal.compactMediaIndex(spark, idx)
    assert(b2 == 4 && a2 == 4, s"recovered compaction read $b2 -> $a2")
    assert(Multimodal.mediaIndexSigs(spark, idx)
      .select("media_id").as[Long].collect().toSet == Set(0L, 8L, 16L, 24L))
  }

  test("media index refuses a destructive batchId rewind loudly; replay and compaction paths stay green") {
    import graft.operators.Multimodal
    import spark.implicits._
    def images(ids: Long*) = Multimodal
      .syntheticGridImages(ids.toDF("media_id"), "media_id")
    def payloads(ids: Long*) = images(ids: _*).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
    val idx = Files.createTempDirectory("guard_idx").toString
    val out = Files.createTempDirectory("guard_out").toString
    Multimodal.buildMediaIndex(images(0L), idx)
    StreamingPipeline.mediaGateBatch(payloads(8L).toDF("media_id", "payload"), 0L, idx, out)
    StreamingPipeline.mediaGateBatch(payloads(16L).toDF("media_id", "payload"), 1L, idx, out)
    val sigs16 = Multimodal.dHashSigs(images(24L))
    // the round-18 verdict's silent-data-loss scenario: a checkpoint reset
    // against a kept index restarts batch ids at 0 — must now fail LOUDLY
    val e = intercept[IllegalArgumentException] {
      Multimodal.appendToMediaIndex(sigs16, idx, 0L)
    }
    assert(e.getMessage.contains("below the max existing"), e.getMessage)
    // batch 0's admissions survived the refused rewind
    assert(Multimodal.mediaIndexSigs(spark, idx)
      .select("media_id").as[Long].collect().toSet == Set(0L, 8L, 16L))
    // equality = the gate's marker-lost replay window — stays legal
    Multimodal.appendToMediaIndex(Multimodal.dHashSigs(images(16L)), idx, 1L)
    // explicit opt-out for an intentional replacement
    Multimodal.appendToMediaIndex(sigs16, idx, 0L, allowReplace = true)
    assert(Multimodal.mediaIndexSigs(spark, idx)
      .select("media_id").as[Long].collect().toSet == Set(0L, 16L, 24L))
    // compaction frees the id space: any batchId is legal again
    Multimodal.compactMediaIndex(spark, idx)
    Multimodal.appendToMediaIndex(Multimodal.dHashSigs(images(32L)), idx, 0L)
    assert(Multimodal.mediaIndexSigs(spark, idx)
      .select("media_id").as[Long].collect().toSet == Set(0L, 16L, 24L, 32L))
  }

  test("mediaIndexSigs rejects a flat pre-batch-subdir layout with a rebuild message") {
    import graft.operators.Multimodal
    import spark.implicits._
    val idx = Files.createTempDirectory("flat_idx").toString
    // simulate the legacy layout: part files (and _SUCCESS) directly under sigs/
    Multimodal.dHashSigs(Multimodal.syntheticGridImages(
      Seq(0L).toDF("media_id"), "media_id"))
      .write.mode("overwrite").parquet(s"$idx/sigs")
    val e = intercept[IllegalArgumentException] {
      Multimodal.mediaIndexSigs(spark, idx).count()
    }
    assert(e.getMessage.contains("buildMediaIndex"), e.getMessage)
    // rebuild clears the flat layout and the reader works again
    Multimodal.buildMediaIndex(Multimodal.syntheticGridImages(
      Seq(0L, 8L).toDF("media_id"), "media_id"), idx)
    assert(Multimodal.mediaIndexSigs(spark, idx).count() == 2)
  }

  test("media gate micro-batches release their checkpoint snapshots (leak bound across batches)") {
    import graft.operators.Multimodal
    import spark.implicits._
    // the CentralitySpec/BpeSpec leak bound applied to the streaming loop:
    // a long-lived stream must not accumulate pinned RDDs per batch. Only
    // the media gate is held to an exact 0 — its two checkpoints (sigs,
    // admitted) are both explicitly dropped; the text/semantic gates'
    // INTERNALS go through Dedup.materialize frames that are documented as
    // GC-reclaimed (ContextCleaner), so their residue is timing-dependent
    // and not a deterministic bound.
    val mIdx = Files.createTempDirectory("leak_m_idx").toString
    val mOut = Files.createTempDirectory("leak_m_out").toString
    Multimodal.buildMediaIndex(
      Multimodal.syntheticGridImages(Seq(0L).toDF("media_id"), "media_id"), mIdx)
    val before = spark.sparkContext.getPersistentRDDs.size
    for (b <- 0 until 4) {
      val ids = Seq(100L + 8 * b, 101L + 8 * b)
      val media = Multimodal.syntheticGridImages(ids.toDF("media_id"), "media_id")
        .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
        .toDF("media_id", "payload")
      StreamingPipeline.mediaGateBatch(media, b.toLong, mIdx, mOut)
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before == 0,
      s"media gate leaked ${after - before} snapshots across 4 micro-batches")
  }

  test("streaming media gate end-to-end: MemoryStream payloads drain through the shared index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idxDir = Files.createTempDirectory("media_s_idx").toString
    val out = Files.createTempDirectory("media_s_out").toString
    val ck = Files.createTempDirectory("media_s_ck").toString
    val imgs = Multimodal.syntheticGridImages(
        Seq(1L, 8L).toDF("media_id"), "media_id")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
    Multimodal.buildMediaIndex(
      Multimodal.syntheticGridImages(Seq(0L).toDF("media_id"), "media_id"), idxDir)
    val stream = MemoryStream[(Long, Array[Byte])]
    val media = stream.toDF().toDF("media_id", "payload")
    stream.addData(imgs.toSeq: _*) // 1 in-group dups indexed 0; 8 fresh
    val q = StreamingPipeline.mediaGateStream(media, idxDir, out, ck)
    q.awaitTermination(120000)
    val got = spark.read.parquet(out).select("media_id").as[Long].collect().toSet
    assert(got == Set(8L), s"end-to-end admitted: $got")
  }

  test("streaming semantic gate: index dups, self dups, cross-batch dups; replay re-emits") {
    import graft.operators.Similarity
    import spark.implicits._
    // 2-D geometry, threshold cos(30°): vectors within 30° collide
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val t = math.cos(math.toRadians(30))
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cell", "cvec")
    val idxDir = Files.createTempDirectory("sem_idx").toString
    val out = Files.createTempDirectory("sem_out").toString
    // corpus: one admitted vector at 0°
    Similarity.buildSemanticIndex(
      Seq((1L, at(0))).toDF("vec_id", "embedding"), cents, idxDir)

    // batch 0: 10 dups the corpus (10°); 11 fresh (80°, cell 1);
    // 12 self-dups 11 (85°, smaller-id veto)
    val b0 = Seq((10L, at(10)), (11L, at(80)), (12L, at(85)))
      .toDF("vec_id", "embedding")
    StreamingPipeline.semanticGateBatch(b0, 0L, idxDir, out, t)
    def emitted() = spark.read.parquet(out).select("vec_id").as[Long].collect().toSet
    assert(emitted() == Set(11L), s"batch 0: ${emitted()}")

    // committed replay: must re-emit 11, not filter it against its own row
    StreamingPipeline.semanticGateBatch(b0, 0L, idxDir, out, t)
    assert(emitted() == Set(11L), s"committed replay: ${emitted()}")

    // worst crash point: appended but marker lost — re-append tolerated,
    // identical admission
    val marker = new org.apache.hadoop.fs.Path(s"$idxDir/_committed/batch-0")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, true)
    StreamingPipeline.semanticGateBatch(b0, 0L, idxDir, out, t)
    assert(emitted() == Set(11L), s"marker-loss replay: ${emitted()}")

    // the marker-loss replay re-appended 11's row — exactly the crash
    // window compactSemanticIndex exists to clean: distinct rewrite drops
    // the duplicate and later gating is unchanged
    val (before, after) = Similarity.compactSemanticIndex(spark, idxDir)
    assert(before == 3 && after == 2, s"compact: $before -> $after") // corpus 1 + 11 twice

    // batch 1: 20 dups the ADMITTED 11 (75° — only the appended index
    // knows); 21 fresh (40°: >30° from both 0° and 75°/80°... and from 10°
    // — 10 was NOT admitted, so it cannot veto)
    val b1 = Seq((20L, at(75)), (21L, at(40))).toDF("vec_id", "embedding")
    StreamingPipeline.semanticGateBatch(b1, 1L, idxDir, out, t)
    assert(emitted() == Set(11L, 21L), s"batch 1: ${emitted()}")

    // rebuild clears markers: a fresh stream at batch 0 appends again
    Similarity.buildSemanticIndex(
      Seq((1L, at(0))).toDF("vec_id", "embedding"), cents, idxDir)
    val out2 = Files.createTempDirectory("sem_out2").toString
    StreamingPipeline.semanticGateBatch(
      Seq((30L, at(80))).toDF("vec_id", "embedding"), 0L, idxDir, out2, t)
    StreamingPipeline.semanticGateBatch(
      Seq((31L, at(80))).toDF("vec_id", "embedding"), 1L, idxDir, out2, t)
    val emitted2 = spark.read.parquet(out2).select("vec_id").as[Long].collect().toSet
    assert(emitted2 == Set(30L), s"rebuilt-index gate: $emitted2") // 31 caught by 30's append
  }

  test("streaming semantic gate keeps a PQ extent coherent across batches") {
    import graft.operators.{Pq, Similarity}
    import spark.implicits._
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val t = math.cos(math.toRadians(30))
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cell", "cvec")
    val corpus = Seq((1L, at(0))).toDF("vec_id", "embedding")
    val model = Pq.train(
      (0 until 8).map(i => (i.toLong, at(i * 45.0))).toDF("vec_id", "embedding"),
      m = 2, ksub = 4, sampleSize = 8, iters = 4)
    val idxDir = Files.createTempDirectory("sem_idx_pq").toString
    val out = Files.createTempDirectory("sem_out_pq").toString
    Pq.buildPqIndex(corpus, cents, model, idxDir)
    def counts() = (spark.read.parquet(s"$idxDir/assigned").count(),
      spark.read.parquet(s"$idxDir/codes").count())
    assert(counts() == ((1L, 1L)))
    // two gate batches admit 11 (80°) then 21 (40°) — each append must
    // extend codes alongside assigned (the coherence contract)
    StreamingPipeline.semanticGateBatch(
      Seq((11L, at(80))).toDF("vec_id", "embedding"), 0L, idxDir, out, t)
    assert(counts() == ((2L, 2L)), s"after batch 0: ${counts()}")
    StreamingPipeline.semanticGateBatch(
      Seq((21L, at(40))).toDF("vec_id", "embedding"), 1L, idxDir, out, t)
    assert(counts() == ((3L, 3L)), s"after batch 1: ${counts()}")
    // the compressed search must see the streamed-in vectors
    val hits = Pq.ivfPqTopKIndexed(idxDir,
        Seq((100L, at(78))).toDF("vec_id", "embedding"), 2, nProbe = 2)
      .select("b_id").as[Long].collect().toSet
    assert(hits.contains(11L), s"streamed vector invisible to PQ lane: $hits")
  }

  test("streaming semantic gate end-to-end: MemoryStream drains through the same index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val t = math.cos(math.toRadians(30))
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cell", "cvec")
    val idxDir = Files.createTempDirectory("semq_idx").toString
    val gOut = Files.createTempDirectory("semq_out").toString
    val gCk = Files.createTempDirectory("semq_ck").toString
    Similarity.buildSemanticIndex(
      Seq((1L, at(0))).toDF("vec_id", "embedding"), cents, idxDir)

    val stream = MemoryStream[(Long, Array[Float])]
    val vecs = stream.toDF().toDF("vec_id", "embedding")
    stream.addData((10L, at(10)), (11L, at(80)))
    val q1 = StreamingPipeline.semanticGateStream(vecs, idxDir, gOut, gCk, t)
    q1.awaitTermination(120000)
    assert(spark.read.parquet(gOut).select("vec_id").as[Long].collect().toSet == Set(11L))

    stream.addData((20L, at(75))) // dups admitted 11 — cross-batch via index
    val q2 = StreamingPipeline.semanticGateStream(vecs, idxDir, gOut, gCk, t)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(gOut).select("vec_id").as[Long].collect().toSet == Set(11L))
  }

  test("streaming classifier gate keeps only target-class docs; replay converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.LanguageModel
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val train = Seq(
      (1L, "perro gato casa sol", "es"), (2L, "gato sol luna perro", "es"),
      (3L, "dog cat house sun", "en"), (4L, "cat sun moon dog", "en")).toDF("doc_id", "text", "lang")
    val mDir = Files.createTempDirectory("nbgate_m").toString
    val gOut = Files.createTempDirectory("nbgate_out").toString
    val gCk = Files.createTempDirectory("nbgate_ck").toString
    LanguageModel.buildNbModel(train, "text", "lang", mDir)

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    stream.addData((10L, "dog moon cat"), (11L, "perro luna"), (12L, "..."))
    val q1 = StreamingPipeline.classifierGateStream(docs, mDir, gOut, gCk, Seq("en"))
    q1.awaitTermination(120000)
    // only the en-classified doc passes; the es doc and the token-free doc drop
    val got1 = spark.read.parquet(gOut).select("doc_id").as[Long].collect().toSet
    assert(got1 == Set(10L))
    // second drain: cross-batch independence (static model, new batch only)
    stream.addData((20L, "sun dog"), (21L, "gato casa"))
    val q2 = StreamingPipeline.classifierGateStream(docs, mDir, gOut, gCk, Seq("en"))
    q2.awaitTermination(120000)
    assert(spark.read.parquet(gOut).select("doc_id").as[Long].collect().toSet == Set(10L, 20L))
    // replay of a completed batch overwrites to the same rows (idempotent)
    StreamingPipeline.classifierGateBatch(
      Seq((10L, "dog moon cat"), (11L, "perro luna")).toDF("doc_id", "text"),
      0L, mDir, gOut, Seq("en"))
    assert(spark.read.parquet(gOut).select("doc_id").as[Long].collect().toSet == Set(10L, 20L))
    // admitted rows carry the prediction next to the original columns
    val cols = spark.read.parquet(gOut).columns.toSet
    assert(Set("doc_id", "text", "pred_lang", "score").subsetOf(cols))
  }

  test("streaming token gate annotates from persisted merges, drops over-budget and keeps token-free docs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Bpe
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq((1L, "the cat the hat"), (2L, "then that the")).toDF("doc_id", "text")
    val mDir = Files.createTempDirectory("bpegate_m").toString
    val gOut = Files.createTempDirectory("bpegate_out").toString
    val gCk = Files.createTempDirectory("bpegate_ck").toString
    Bpe.trainAndSave(corpus, "text", nMerges = 4, mDir)
    val merges = Bpe.loadMerges(spark, mDir)

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    // doc 12 has NO tokens (punctuation only): must pass at 0, not vanish
    stream.addData((10L, "the cat"), (11L, "a very long document with many many words here"), (12L, "..."))
    val q1 = StreamingPipeline.tokenGateStream(docs, mDir, gOut, gCk, maxTokens = 10)
    q1.awaitTermination(120000)
    val got1 = spark.read.parquet(gOut).select("doc_id", "n_bpe_tokens")
      .as[(Long, Long)].collect().toMap
    val expect10 = Bpe.tokenCounts(Seq((10L, "the cat")).toDF("doc_id", "text"),
      "doc_id", "text", merges).as[(Long, Long)].head()._2
    assert(got1 == Map(10L -> expect10, 12L -> 0L)) // 11 over budget, dropped
    // second drain processes only the new batch; replay stays idempotent
    stream.addData((20L, "that hat"))
    val q2 = StreamingPipeline.tokenGateStream(docs, mDir, gOut, gCk, maxTokens = 10)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(gOut).select("doc_id").as[Long].collect().toSet ==
      Set(10L, 12L, 20L))
  }

  test("watermarked hourly window emits finalized buckets in append mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val out = StreamingPipeline.hourlyWindow(
      mem.toDF().toDF("ts", "value"), watermark = "30 minutes")

    val q = out.writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    // two events in hour 10, one in hour 11, then advance watermark far ahead
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), 2.0),
      (Timestamp.valueOf("2024-01-01 11:10:00"), 4.0))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 15:00:00"), 8.0)) // watermark push
    q.processAllAvailable()
    val rows = spark.table("hourly").orderBy("hour_epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()

    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    val h11 = Timestamp.valueOf("2024-01-01 11:00:00").getTime / 1000
    assert(rows.contains((h10, 2L, 3.0)))
    assert(rows.contains((h11, 1L, 4.0)))
  }

  test("flatMapGroupsWithState sessionizer matches batch session_window on the same events") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext

    // user 1: two sessions (09:00-09:20, then 10:00 — a 40 min gap); the
    // second session's events SPAN micro-batches. user 2: 09:59 lands
    // exactly 30 min after 09:29 — session_window MERGES the exact-gap
    // boundary (one session), and the stream must agree.
    val b1 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 09:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 09:20:00")),
      (2L, Timestamp.valueOf("2024-01-01 09:29:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")))
    val b2 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:10:00")),
      (2L, Timestamp.valueOf("2024-01-01 09:59:00")))
    val sentinel = Seq((99L, Timestamp.valueOf("2024-01-02 12:00:00")))

    val mem = MemoryStream[(Long, Timestamp)]
    val out = StreamingPipeline.sessionizeStream(
      mem.toDF().toDF("user_id", "ts"), gapSec = 1800, watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    mem.addData(sentinel: _*); q.processAllAvailable()
    // one more empty-ish batch so event-time timeouts fire against the
    // sentinel-advanced watermark
    mem.addData((99L, Timestamp.valueOf("2024-01-02 12:00:01"))); q.processAllAvailable()
    val got = spark.table("sess")
      .filter($"user_id" < 99).as[SessionOut].collect().toSet
    q.stop()

    val want = (b1 ++ b2).toDF("user_id", "ts")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        unix_timestamp(min($"ts")).as("session_start"),
        (unix_timestamp(max($"ts")) - unix_timestamp(min($"ts"))).as("duration_sec"))
      .select($"user_id", $"session_start", $"n_events", $"duration_sec")
      .as[SessionOut].collect().toSet
    assert(got == want)
    assert(got.size == 3) // 2 sessions for user 1; user 2's exact-gap pair merges
  }

  test("dedupStream drops same-id re-deliveries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val out = StreamingPipeline.dedupStream(
      mem.toDF().toDF("event_id", "ts"), Seq("event_id"), watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    mem.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:02:00"))) // in-batch dup
    q.processAllAvailable()
    mem.addData((2L, Timestamp.valueOf("2024-01-01 10:30:00")), // cross-batch dup
      (3L, Timestamp.valueOf("2024-01-01 10:31:00")))
    q.processAllAvailable()
    val ids = spark.table("dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(ids == Seq(1L, 2L, 3L)) // each id exactly once
  }

  test("streaming windowed top-k: bounded heap state across micro-batches, rank order out") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamingPipeline.hourlyTopK(
      mem.toDF().toDF("id", "ts", "value"), k = 2, watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("topk")
      .outputMode("append").start()
    // hour-10 events split across two micro-batches: the window's heap
    // buffer must survive state-store serialization between them
    mem.addData((1L, Timestamp.valueOf("2024-01-01 10:05:00"), 5.0),
      (2L, Timestamp.valueOf("2024-01-01 10:10:00"), 9.0))
    q.processAllAvailable()
    mem.addData((3L, Timestamp.valueOf("2024-01-01 10:20:00"), 7.0),
      (4L, Timestamp.valueOf("2024-01-01 10:25:00"), 1.0))
    q.processAllAvailable()
    mem.addData((99L, Timestamp.valueOf("2024-01-01 15:00:00"), 0.0)) // close hour 10
    q.processAllAvailable()
    val rows = spark.table("topk").orderBy("hour_epoch")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList))
    q.stop()
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    assert(rows.toSeq == Seq((h10, List(2L, 3L)))) // top-2 by value, rank order
  }

  test("streaming CDC: state accumulates across batches; replay of a committed batch converges") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("cdc_state").toString
    def state() = StreamingPipeline.cdcCurrentState(spark, stateDir).get
      .orderBy("k").as[(Long, String)].collect().toSeq

    // batch 0: two inserts
    StreamingPipeline.cdcApplyBatch(
      Seq((1L, "upsert", "a", Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (2L, "upsert", "b", Timestamp.valueOf("2024-01-01 10:00:00"), 2L))
        .toDF("k", "op", "v", "ts", "seq"),
      0L, stateDir, "k", Seq("v"))
    assert(state() == Seq((1L, "a"), (2L, "b")), state())

    // batch 1: update 1, delete 2, insert 3
    val b1 = Seq((1L, "upsert", "a2", Timestamp.valueOf("2024-01-01 11:00:00"), 3L),
      (2L, "delete", "x", Timestamp.valueOf("2024-01-01 11:00:00"), 4L),
      (3L, "upsert", "c", Timestamp.valueOf("2024-01-01 11:00:00"), 5L))
      .toDF("k", "op", "v", "ts", "seq")
    StreamingPipeline.cdcApplyBatch(b1, 1L, stateDir, "k", Seq("v"))
    assert(state() == Seq((1L, "a2"), (3L, "c")), state())

    // at-least-once replay of the COMMITTED batch 1 (pointer already at
    // v=1): must rebuild from v=0, not double-apply on top of v=1
    StreamingPipeline.cdcApplyBatch(b1, 1L, stateDir, "k", Seq("v"))
    assert(state() == Seq((1L, "a2"), (3L, "c")), s"after replay: ${state()}")

    // batch 2 continues from the converged state
    StreamingPipeline.cdcApplyBatch(
      Seq((3L, "delete", "x", Timestamp.valueOf("2024-01-01 12:00:00"), 6L))
        .toDF("k", "op", "v", "ts", "seq"),
      2L, stateDir, "k", Seq("v"))
    assert(state() == Seq((1L, "a2")), state())
  }

  test("streaming SCD-2: history accumulates, replay of a completed batch is a no-op") {
    import spark.implicits._
    val root = Files.createTempDirectory("scd_stream").toString
    val (openDir, closedDir) = (s"$root/open", s"$root/closed")
    def open() = spark.read.parquet(openDir)
      .orderBy("k").as[(Long, String, Timestamp, Option[Timestamp])].collect().toSeq
    def closed() = spark.read.parquet(closedDir)
      .orderBy("k", "valid_from").as[(Long, String, Timestamp, Option[Timestamp])].collect().toSeq

    // batch 0: two first-seen keys; in-batch dupes for k=1 reduce to latest
    StreamingPipeline.scdApplyBatch(
      Seq((1L, "bronze", Timestamp.valueOf("2024-01-01 09:00:00"), 1L),
        (1L, "silver", Timestamp.valueOf("2024-01-01 10:00:00"), 2L),
        (2L, "gold", Timestamp.valueOf("2024-01-01 10:00:00"), 3L))
        .toDF("k", "tier", "eff", "seq"),
      0L, openDir, closedDir, "k", Seq("tier"), "eff", "seq")
    assert(open().map(r => (r._1, r._2)) == Seq((1L, "silver"), (2L, "gold")), open())
    assert(closed().isEmpty, closed())

    // batch 1: change k=1, first-seen k=3
    val b1 = Seq((1L, "gold", Timestamp.valueOf("2024-02-01 10:00:00"), 4L),
      (3L, "bronze", Timestamp.valueOf("2024-02-01 10:00:00"), 5L))
      .toDF("k", "tier", "eff", "seq")
    StreamingPipeline.scdApplyBatch(b1, 1L, openDir, closedDir, "k", Seq("tier"), "eff", "seq")
    assert(open().map(r => (r._1, r._2)) == Seq((1L, "gold"), (2L, "gold"), (3L, "bronze")))
    assert(closed() == Seq((1L, "silver", Timestamp.valueOf("2024-01-01 10:00:00"),
      Some(Timestamp.valueOf("2024-02-01 10:00:00")))), closed())

    // at-least-once replay of the COMPLETED batch 1: marker short-circuits,
    // no duplicate closed rows, open slice unchanged
    StreamingPipeline.scdApplyBatch(b1, 1L, openDir, closedDir, "k", Seq("tier"), "eff", "seq")
    assert(closed().size == 1, s"replay duplicated closed rows: ${closed()}")
    assert(open().map(r => (r._1, r._2)) == Seq((1L, "gold"), (2L, "gold"), (3L, "bronze")))
  }

  test("stray non-numeric files in state dirs are skipped, not batch-killers") {
    import spark.implicits._
    // round-11 advice: marker GC and version listing used bare .toLong —
    // one foreign artifact (partial create, editor temp file) threw
    // NumberFormatException AFTER the batch's data had written. Both now
    // skip unparseable names.
    val root = Files.createTempDirectory("scd_stray").toString
    val (openDir, closedDir) = (s"$root/open", s"$root/closed")
    StreamingPipeline.scdApplyBatch(
      Seq((1L, "bronze", Timestamp.valueOf("2024-01-01 09:00:00"), 1L))
        .toDF("k", "tier", "eff", "seq"),
      0L, openDir, closedDir, "k", Seq("tier"), "eff", "seq")
    Files.createFile(java.nio.file.Paths.get(closedDir, "_applied-garbage"))
    // a later batch triggers the marker GC sweep over closedDir
    for (b <- 1L to 3L)
      StreamingPipeline.scdApplyBatch(
        Seq((1L, s"tier$b", Timestamp.valueOf(s"2024-01-0${b + 1} 09:00:00"), b + 1L))
          .toDF("k", "tier", "eff", "seq"),
        b, openDir, closedDir, "k", Seq("tier"), "eff", "seq")
    assert(Files.exists(java.nio.file.Paths.get(closedDir, "_applied-garbage")))

    val cdcDir = Files.createTempDirectory("cdc_stray").toString
    StreamingPipeline.cdcApplyBatch(
      Seq((1L, "upsert", "a", Timestamp.valueOf("2024-01-01 10:00:00"), 1L))
        .toDF("k", "op", "v", "ts", "seq"),
      0L, cdcDir, "k", Seq("v"))
    Files.createDirectory(java.nio.file.Paths.get(cdcDir, "v=editor_backup"))
    StreamingPipeline.cdcApplyBatch(
      Seq((2L, "upsert", "b", Timestamp.valueOf("2024-01-01 11:00:00"), 2L))
        .toDF("k", "op", "v", "ts", "seq"),
      1L, cdcDir, "k", Seq("v"))
    assert(StreamingPipeline.cdcCurrentState(spark, cdcDir).get
      .orderBy("k").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("cdcCurrentState: never-written state dirs return None without a pointer probe") {
    // a missing dir and a dir with no v=* version both return None (no
    // retry sleep applies — the retry is only for a swap that could be in
    // flight, i.e. when a version dir already exists)
    assert(StreamingPipeline.cdcCurrentState(spark, "/tmp/does_not_exist_cdc").isEmpty)
    val empty = Files.createTempDirectory("cdc_empty").toString
    assert(StreamingPipeline.cdcCurrentState(spark, empty).isEmpty)
  }

  test("streaming SCD-2 end-to-end: memory-stream updates drain into the open/closed layout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("scds_stream").toString
    val (openDir, closedDir) = (s"$root/open", s"$root/closed")
    val ck = Files.createTempDirectory("scds_ck").toString
    val mem = MemoryStream[(Long, String, Timestamp, Long)]
    mem.addData((1L, "bronze", Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (2L, "gold", Timestamp.valueOf("2024-01-01 10:00:00"), 2L),
      (1L, "silver", Timestamp.valueOf("2024-03-01 10:00:00"), 3L))
    val q = StreamingPipeline.scdApplyStream(
      mem.toDF().toDF("k", "tier", "eff", "seq"),
      openDir, closedDir, ck, "k", Seq("tier"), "eff", "seq")
    q.awaitTermination(120000)
    // one micro-batch: latest-per-key reduction keeps silver for k=1
    val open = spark.read.parquet(openDir)
      .orderBy("k").as[(Long, String, Timestamp, Option[Timestamp])].collect().toSeq
    assert(open.map(r => (r._1, r._2)) == Seq((1L, "silver"), (2L, "gold")), open)
    assert(open.forall(_._4.isEmpty))
  }

  test("streaming CDC end-to-end: memory-stream changes drain into the state table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("cdcs_state").toString
    val ck = Files.createTempDirectory("cdcs_ck").toString
    val mem = MemoryStream[(Long, String, String, Timestamp, Long)]
    mem.addData((1L, "upsert", "a", Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (2L, "upsert", "b", Timestamp.valueOf("2024-01-01 10:00:00"), 2L),
      (1L, "delete", "x", Timestamp.valueOf("2024-01-01 11:00:00"), 3L))
    val q = StreamingPipeline.cdcApplyStream(
      mem.toDF().toDF("k", "op", "v", "ts", "seq"), stateDir, ck, "k", Seq("v"))
    q.awaitTermination(120000)
    val got = StreamingPipeline.cdcCurrentState(spark, stateDir).get
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == Seq((2L, "b")), got) // 1 tombstoned by its later change
  }

  test("sliding windows: each event lands in every overlapping window, finalized once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val out = StreamingPipeline.slidingWindow(
      mem.toDF().toDF("ts", "value"), size = "1 hour", slide = "30 minutes",
      watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("slide")
      .outputMode("append").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),  // [9:30,10:30) + [10:00,11:00)
      (Timestamp.valueOf("2024-01-01 10:50:00"), 2.0))  // [10:00,11:00) + [10:30,11:30)
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 15:00:00"), 0.0)) // close them all
    q.processAllAvailable()
    def ep(s: String) = Timestamp.valueOf(s).getTime / 1000
    val rows = spark.table("slide").orderBy("window_epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    q.stop()
    assert(rows == Seq(
      (ep("2024-01-01 09:30:00"), 1L, 1.0),
      (ep("2024-01-01 10:00:00"), 2L, 3.0),
      (ep("2024-01-01 10:30:00"), 1L, 2.0)), rows.mkString("\n"))
  }

  test("streaming frequent items: MG sketch state across micro-batches keeps the heavy item") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val out = StreamingPipeline.hourlyFrequentItems(
      mem.toDF().toDF("item", "ts"), k = 3, watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("freq")
      .outputMode("append").start()
    // hour-10 items split across micro-batches: the sketch must merge
    // through state-store round-trips; 'hot' is 8/14 > n/(k+1) = 3.5
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    mem.addData(Seq.fill(4)("hot").map(x => (x, t(5))) ++
      Seq("a", "b", "c").map(x => (x, t(10))): _*)
    q.processAllAvailable()
    mem.addData(Seq.fill(4)("hot").map(x => (x, t(20))) ++
      Seq("d", "e", "f").map(x => (x, t(25))): _*)
    q.processAllAvailable()
    mem.addData(("z", Timestamp.valueOf("2024-01-01 15:00:00"))) // close hour 10
    q.processAllAvailable()
    val rows = spark.table("freq").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList))
    q.stop()
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    assert(rows.length == 1 && rows(0)._1 == h10, rows.mkString(","))
    assert(rows(0)._2.contains("hot"), s"candidates: ${rows(0)._2}") // MG completeness
    assert(rows(0)._2.size <= 3)
  }

  test("stream-stream interval join pairs buys with trailing-window clicks across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val out = StreamingPipeline.attributionJoin(
      buys.toDF().toDF("user_id", "buy_id", "buy_ts"),
      clicks.toDF().toDF("user_id", "click_id", "click_ts"),
      windowSec = 3600)
    val q = out.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    // click arrives in an EARLIER batch than the buy it attributes
    clicks.addData((1L, 100L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, 101L, Timestamp.valueOf("2024-01-01 08:00:00")), // outside the 1h window
      (2L, 200L, Timestamp.valueOf("2024-01-01 10:20:00")))
    q.processAllAvailable()
    buys.addData((1L, 1L, Timestamp.valueOf("2024-01-01 10:30:00")),
      (2L, 2L, Timestamp.valueOf("2024-01-01 10:30:00")))
    q.processAllAvailable()
    val got = spark.table("attr").select("buy_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // buy 1 matches click 100 (30 min before) but NOT 101 (2.5 h before);
    // buy 2 matches click 200
    assert(got == Set((1L, 100L), (2L, 200L)))
  }

  test("streaming count-min: counters add across batches; replay of a committed batch converges") {
    import spark.implicits._
    import graft.operators.Frequency
    val stateDir = Files.createTempDirectory("cm_state").toString
    def est(items: Seq[String]) = {
      val cur = StreamingPipeline.cdcCurrentState(spark, stateDir).get
      Frequency.countMinEstimate(cur, items.toDF("item"), 2, 32)
        .orderBy("item").as[(String, Long)].collect().toSeq
    }
    StreamingPipeline.countMinBatch(
      (Seq.fill(5)("a") ++ Seq.fill(3)("b")).toDF("item"),
      0L, stateDir, "item", 2, 32)
    est(Seq("a", "b")).foreach { case (w, n) =>
      val exact = if (w == "a") 5L else 3L
      assert(n >= exact && n <= 8L, s"$w: $n") // CM bounds: exact <= est <= stream total
    }
    val b1 = (Seq.fill(4)("a") ++ Seq.fill(7)("c")).toDF("item")
    StreamingPipeline.countMinBatch(b1, 1L, stateDir, "item", 2, 32)
    val after1 = est(Seq("a", "b", "c"))
    after1.foreach { case (w, n) =>
      val exact = Map("a" -> 9L, "b" -> 3L, "c" -> 7L)(w)
      assert(n >= exact && n <= 19L, s"$w: $n")
    }
    // at-least-once replay of COMMITTED batch 1: rebuilt from v=0, not
    // double-added on top of v=1
    StreamingPipeline.countMinBatch(b1, 1L, stateDir, "item", 2, 32)
    assert(est(Seq("a", "b", "c")) == after1)
    // state is bounded by the sketch dimensions regardless of stream length
    assert(StreamingPipeline.cdcCurrentState(spark, stateDir).get.count() <= 2L * 32)
  }

  test("streaming preference fold: chained batches equal one-shot pairs; replay converges") {
    import spark.implicits._
    import graft.operators.Preference
    val stateDir = Files.createTempDirectory("pref_state").toString
    val all = (0L until 120L).map(i => (i % 7, i, (i * 97 % 10000): java.lang.Long))
    def foldBatch(id: Long, rows: Seq[(Long, Long, java.lang.Long)]) =
      StreamingPipeline.preferenceFoldBatch(
        rows.toDF("prompt", "id", "qfp"), id, stateDir, "prompt", "id", "qfp")
    val batches = (0 until 3).map(k => all.filter(_._2 % 3 == k))
    batches.zipWithIndex.foreach { case (b, i) => foldBatch(i.toLong, b) }
    val oneShot = Preference.preferencePairs(
        all.toDF("prompt", "id", "qfp"), "prompt", "id", "qfp", 500L)
      .orderBy("prompt").collect().toSeq
    def live = StreamingPipeline.currentPreferencePairs(spark, stateDir, 500L)
      .get.orderBy("prompt").collect().toSeq
    assert(live == oneShot)
    // at-least-once replay of COMMITTED batch 2: rebuilt from v=1, the
    // candidate count must not double-fold
    foldBatch(2L, batches(2))
    assert(live == oneShot)
    // crash BEFORE publish: v=2 exists but _CURRENT still points at v=1;
    // the replay recomputes v=2 from the same sub-id parent and republishes
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/_CURRENT"), false)
    foldBatch(2L, batches(2))
    assert(live == oneShot)
    // state stays prompt-domain-bounded
    assert(StreamingPipeline.cdcCurrentState(spark, stateDir).get.count() == 7L)
  }

  test("streaming preference fold end-to-end: memory-stream candidates publish live pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("prefs_state").toString
    val ck = Files.createTempDirectory("prefs_ck").toString
    val mem = MemoryStream[(Long, Long, Long)]
    mem.addData((1L, 1L, 9000L), (1L, 2L, 1000L), (2L, 3L, 5000L))
    val q = StreamingPipeline.preferenceFoldStream(
      mem.toDF().toDF("prompt", "id", "qfp"), stateDir, ck, "prompt", "id", "qfp")
    q.awaitTermination(120000)
    val pairs = StreamingPipeline.currentPreferencePairs(spark, stateDir, 500L)
      .get.orderBy("prompt").collect()
    assert(pairs.map(_.getAs[Long]("prompt")).toSeq == Seq(1L)) // prompt 2 is a singleton
    assert(pairs.head.getAs[Long]("chosen_id") == 1L)
    assert(pairs.head.getAs[Long]("rejected_id") == 2L)
  }

  test("streaming count-min end-to-end: memory-stream items drain into the counter table") {
    import spark.implicits._
    import graft.operators.Frequency
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("cms_state").toString
    val ck = Files.createTempDirectory("cms_ck").toString
    val mem = MemoryStream[String]
    mem.addData(Seq.fill(6)("hot") ++ Seq("x", "y"): _*)
    val q = StreamingPipeline.countMinStream(
      mem.toDF().toDF("item"), stateDir, ck, "item", 2, 32)
    q.awaitTermination(120000)
    val cur = StreamingPipeline.cdcCurrentState(spark, stateDir).get
    val got = Frequency.countMinEstimate(cur, Seq("hot").toDF("item"), 2, 32)
      .as[(String, Long)].head()
    assert(got._2 >= 6L && got._2 <= 8L, got)
  }

  test("streaming contamination monitor: verdicts converge to the one-shot audit; replay is marker-free idempotent") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evalDocs = Seq(
      (10L, "a b c d q r"),          // overlaps batch-1 doc 1
      (12L, "g h i m n o"),          // overlaps batch-2 doc 2
      (13L, "m n o p q r")           // never matched
    ).toDF("doc_id", "text")
    val iDir = Files.createTempDirectory("cont_gate_idx").toString
    val ckDir = Files.createTempDirectory("cont_gate_ck").toString
    Dedup.buildContaminationIndex(evalDocs, "doc_id", "text", iDir)
    def verdicts() = Dedup.contaminationVerdictsIndexed(spark, iDir, threshold = 0.25)
      .orderBy("eval_id").as[(Long, Long, Long, Double, Boolean)].collect().toSeq

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    stream.addData((1L, "a b c d e f"))
    val q1 = StreamingPipeline.contaminationGateStream(docs, iDir, ckDir)
    q1.awaitTermination(120000)
    assert(verdicts() == Seq(
      (10L, 4L, 2L, 0.5, true), (12L, 4L, 0L, 0.0, false), (13L, 4L, 0L, 0.0, false)))
    // second drain accumulates on top of the first batch's state
    stream.addData((2L, "g h i j k l"))
    val q2 = StreamingPipeline.contaminationGateStream(docs, iDir, ckDir)
    q2.awaitTermination(120000)
    val after2 = verdicts()
    assert(after2 == Dedup.contaminationFractions(
      Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text"),
      evalDocs, "doc_id", "text", threshold = 0.25)
      .orderBy("eval_id").as[(Long, Long, Long, Double, Boolean)].collect().toSeq)
    // a replayed batch re-appends the same pairs: verdicts unchanged with
    // NO marker protocol (distinct-count algebra, not bookkeeping)
    Dedup.contaminationGateBatch(iDir, Seq((1L, "a b c d e f")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(verdicts() == after2)
  }
}
