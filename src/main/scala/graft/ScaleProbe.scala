package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, LanguageModel, Multimodal, Retrieval, Temporal}
import graft.functions.Text

/** One-off scale audit for the dedup family (SURVEY §6): measures CANDIDATE
  * pair counts (the pre-verification volume each blocking scheme admits) as
  * the corpus grows, to back the asymptotic claims with observed growth
  * instead of argument.
  *
  * Corpus ladder:
  *  - nested natural subsets of the sf0.1 documents table (625 → 5000 docs,
  *    by doc_id range so smaller sets are strict subsets) — preserves the
  *    corpus's real duplicate density;
  *  - one 4x synthetic upscale (20k docs): each copy family salts every 5th
  *    token with a copy-unique token, so copies are NOT near-duplicates of
  *    their originals under any of the measured metrics (token bag, shingle
  *    set, and length all change) and the ladder measures corpus-size
  *    scaling, not artificially injected duplication.
  *
  * Prints one line per (N, operator): candidate pairs + verified pairs.
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleProbe"
  */
object ScaleProbe {

  /** MinHash-LSH band-collision candidates (pre-verification) — the
    * distinct (a,b) admitted by [[Dedup.minhashLshCandidates]].
    */
  private def d2Candidates(docs: DataFrame): Long =
    Dedup.minhashLshCandidates(
      Dedup.minhashSignatures(docs, "doc_id", "text", 32), "doc_id", 32, 8).count()

  /** SimHash 16-bit-band collisions BEFORE the Hamming filter. */
  private def d3Candidates(docs: DataFrame): Long = {
    val sigs = Dedup.simhash64(docs, "doc_id", "text").localCheckpoint()
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }
    val banded = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.key").as("key"))
    banded.select(col("band"), col("key"), col("doc_id").as("a"))
      .join(banded.select(col("band"), col("key"), col("doc_id").as("b")), Seq("band", "key"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
  }

  /** N-gram inverted-index pair count (pairs sharing >= 1 shingle within a
    * lang block) — d4's candidate volume, bounded by shingle collisions.
    */
  private def d4Candidates(docs: DataFrame): Long = {
    val sets = docs.select(col("lang").as("blk"), col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("blk"), col("doc_id"), array_distinct(Text.shingles3(col("toks"))).as("sh"))
      .localCheckpoint()
    val inv = sets.select(col("blk"), col("doc_id"),
      explode(transform(col("sh"), s => xxhash64(s))).as("h"))
    inv.select(col("blk"), col("h"), col("doc_id").as("a"))
      .join(inv.select(col("blk"), col("h"), col("doc_id").as("b")), Seq("blk", "h"))
      .filter(col("a") < col("b"))
      .select("blk", "a", "b").distinct().count()
  }

  /** Length-band candidate pairs (pre-DP) — d5's verify volume. */
  private def d5Candidates(docs: DataFrame, lenWindow: Int = 16): Long = {
    val base = docs.select(col("lang").as("blk"), col("doc_id"), length(col("text")).as("len"))
      .withColumn("bk", floor(col("len") / lenWindow)).localCheckpoint()
    val emitted = base.select(col("blk"),
      explode(array(col("bk"), col("bk") + 1)).as("bk"), col("doc_id"), col("len"))
    emitted.select(col("blk"), col("bk"), col("doc_id").as("a"), col("len").as("la"))
      .join(emitted.select(col("blk"), col("bk"), col("doc_id").as("b"), col("len").as("lb")),
        Seq("blk", "bk"))
      .filter(col("a") < col("b") && abs(col("la") - col("lb")) <= lenWindow)
      .select("blk", "a", "b").distinct().count()
  }

  /** 4x upscale: copy c of doc d gets doc_id = d + c*10^9 and every 5th
    * token replaced with a copy-unique salt token.
    */
  private def upscale(docs: DataFrame, factor: Int): DataFrame = {
    val copies = docs.withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
    copies.select(
      (col("doc_id") + col("copy") * lit(1000000000L)).as("doc_id"),
      when(col("copy") === 0, col("text")).otherwise(
        array_join(
          zip_with(
            split(col("text"), " "),
            sequence(lit(1), size(split(col("text"), " "))),
            (tok, i) => when(pmod(i, lit(5)) === 0,
              concat(lit("w"), col("copy"), lit("x"), i)).otherwise(tok)),
          " ")).as("text"),
      col("lang"))
  }


  /** e2c's banding candidates (ids only, the operator's own layout:
    * 8 bands × planesForCorpus planes — bandedNearDupCore's candidate
    * half restated; the verify half is irrelevant to candidate volume).
    */
  private def e2cCandidates(emb: DataFrame, n: Long): Long = {
    val planes = operators.Similarity.planesForCorpus(n, 64)
    val bandCols = (0 until 8).map { t =>
      struct(lit(t).as("band"),
        functions.Vectors.lshBucketFast(col("embedding"), planes, 64,
          firstPlane = t * planes).as("bucket"))
    }
    val banded = emb.select(col("vec_id"), explode(array(bandCols: _*)).as("bd"))
      .select(col("vec_id"), col("bd.band").as("band"), col("bd.bucket").as("bucket"))
      .localCheckpoint()
    banded.select(col("band"), col("bucket"), col("vec_id").as("a"))
      .join(banded.select(col("band"), col("bucket"), col("vec_id").as("b")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
  }

  /** Fixed-2^16-key pigeonhole candidates: 4 × 16-bit bands over a 64-bit
    * signature column (the simhashPairsFromSigs band arithmetic,
    * pre-Hamming) — m4's dHash and m6's audio-fingerprint share it.
    */
  private def pigeonholeCandidates(sigs: DataFrame, idCol: String, sigCol: String): Long = {
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col(sigCol), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }
    val banded = sigs.select(col(idCol), explode(array(bandCols: _*)).as("bd"))
      .select(col(idCol), col("bd.band").as("band"), col("bd.key").as("key"))
      .localCheckpoint()
    banded.select(col("band"), col("key"), col(idCol).as("a"))
      .join(banded.select(col("band"), col("key"), col(idCol).as("b")),
        Seq("band", "key"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
  }

  /** Least-squares log-log slope of a (n, work) series — the §6.1l fitted
    * growth exponent.
    */
  private def fitExponent(pts: Seq[(Long, Long)]): Double = {
    val xs = pts.map(p => math.log(p._1.toDouble))
    val ys = pts.map(p => math.log(math.max(1L, p._2).toDouble))
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
  }

  /** §6.1l decorrelated doc ladder: copy c of doc d gets a shifted id and
    * every THIRD token replaced with a copy-unique salt token — every
    * width-3 shingle contains a salt, so cross-copy shingle sets are
    * DISJOINT (J = 0 exactly) and exponents measure corpus-size scaling
    * alone (the every-5th MakeScale salt leaks J⁴ ≈ 0.4%/band chance
    * candidates through 4-row band keys — §6.1l finding 1).
    */
  private def upscaleDecor(docs: DataFrame, factor: Int): DataFrame = {
    val copies = docs.withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
    copies.select(
      (col("doc_id") + col("copy") * lit(1000000000L)).as("doc_id"),
      when(col("copy") === 0, col("text")).otherwise(
        array_join(
          zip_with(
            split(col("text"), " "),
            sequence(lit(1), size(split(col("text"), " "))),
            (tok, i) => when(pmod(i, lit(3)) === 0,
              concat(lit("w"), col("copy"), lit("x"), i)).otherwise(tok)),
          " ")).as("text"),
      col("lang"))
  }

  /** §6.1l embedding ladder — the MakeScale rotation scheme: circular shift
    * by `copy` positions is norm-preserving and decorrelates copies (no
    * injected near-dup pairs), ids key-shifted like the doc ladder. Note
    * rotation preserves WITHIN-copy inner products, so each copy universe
    * carries exactly the base corpus's true-pair structure — true pairs
    * grow linearly in the factor by construction (the r20 e2c wire's
    * denominator model).
    */
  private def upscaleEmb(emb: DataFrame, factor: Int): DataFrame = {
    val copies = emb.withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
    copies.select(
      (col("vec_id") + col("copy") * lit(1000000000L)).as("vec_id"),
      when(col("copy") === 0, col("embedding")).otherwise(
        concat(
          slice(col("embedding"), col("copy") + 1,
            size(col("embedding")) - col("copy")),
          slice(col("embedding"), lit(1), col("copy")))).as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.tune(SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", 32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional block filter: `runMain graft.ScaleProbe r15b` runs only the
    // named probe families; no args = everything. Unknown tags fail loudly —
    // a typo'd tag silently running NOTHING would read as "probe produced no
    // output" rather than "tag not matched".
    val knownTags = Set("base", "cc", "d9", "pq", "r15", "r15b", "r15c", "r16a", "r16b", "r16c", "r16d", "r17", "r18", "r19", "r19s", "r20")
    require(args.forall(knownTags), s"unknown probe tag(s) ${args.filterNot(knownTags).mkString(", ")} — known: ${knownTags.toSeq.sorted.mkString(", ")}")
    val want: String => Boolean =
      if (args.isEmpty) _ => true else tag => args.contains(tag)
    val all = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    // setup is gated too: a single-family run must not pay the other
    // families' scans/collects
    val needDocLadder = Seq("base", "r15", "r15b", "r15c", "r16b").exists(want)
    val full = if (needDocLadder) all.count() else 0L

    def probe(tag: String, docs: DataFrame, n: Long, skipD5: Boolean = false): Unit = {
      def t(f: => Long): (Long, Double) = {
        val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
      }
      val (c2, t2) = t(d2Candidates(docs))
      val (v2, _) = t(Dedup.minhashLsh(docs, "doc_id", "text", 32, 8, 0.5).count())
      val (c3, t3) = t(d3Candidates(docs))
      val (v3, _) = t(Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3).count())
      val (c4, t4) = t(d4Candidates(docs))
      val (c5, t5) = if (skipD5) (-1L, -1.0) else t(d5Candidates(docs))
      println(f"PROBE $tag%-10s n=$n%6d " +
        f"d2_cand=$c2%8d d2_pairs=$v2%6d t=$t2%5.1fs | " +
        f"d3_cand=$c3%8d d3_pairs=$v3%6d t=$t3%5.1fs | " +
        f"d4_cand=$c4%9d t=$t4%5.1fs | d5_cand=$c5%9d t=$t5%5.1fs")
    }

    // Nested subsets by doc_id order (deterministic, strict subsets). The
    // driver-side collect of every doc_id is probe-scale-only by design
    // (this is a one-off measurement tool, not a pipeline operator); n is
    // clamped to >= 1 so a tiny corpus (< 8 docs) probes the smallest
    // non-empty subset instead of indexing ids(-1).
    val ids: Array[Long] =
      if (needDocLadder) all.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
      else Array.empty
    if (want("base")) {
      for (frac <- Seq(8, 4, 2, 1) if ids.nonEmpty) {
        val n = math.max(1, (full / frac).toInt)
        val cut = ids(n - 1)
        probe(s"sf0.1/$frac", all.filter(col("doc_id") <= cut).localCheckpoint(), n)
      }
      val up = upscale(all, 4).localCheckpoint()
      probe("sf0.1 x4", up, up.count(), skipD5 = true)
    }

    // d9 (SemDeDup) ladder: candidate volume = Σ n_c·(n_c−1)/2 from the
    // assignment alone (no pair join needed). Fixed 16 cells (the oracle
    // entry's quantizer — E[|cell|] grows with N, so candidates quadratic)
    // vs cellsForCorpus-scaled cells (E[|cell|] bounded — candidates
    // linear). The divergence between the two columns IS the density-lever
    // claim, measured.
    def d9Candidates(emb: DataFrame, cells: Int): Long =
      operators.Similarity.assignCells(emb,
          operators.Similarity.kmeansCentroids(emb, cells))
        .groupBy("cell").count()
        .agg(sum(expr("count * (count - 1) div 2")).as("cand"))
        .head().getLong(0)
    // CC round-count ladder (round-15): the large-star/small-star claim is
    // O(log n) rounds regardless of DIAMETER — measured on the worst shape
    // (a pure path, diameter = n−1, where the old label propagation needed
    // n−1 rounds) and on the real d6 near-dup pair graph.
    if (want("cc")) {
      for (n <- Seq(64L, 512L, 4096L, 32768L)) {
        val path = spark.range(0L, n).select(col("id").as("a"), (col("id") + 1L).as("b"))
        val t0 = System.nanoTime()
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(path, "a", "b")
        val nLabeled = labels.filter(col("comp") === 0L).count()
        println(f"PROBE-CC path n=$n%6d diameter=${n}%6d rounds=$rounds%3d " +
          f"ok=${nLabeled == n + 1}%5s t=${(System.nanoTime() - t0) / 1e9}%5.1fs")
      }
      val pairs = Dedup.minhashLshPortable(all, "doc_id", "text",
        numPerms = 16, bands = 8, threshold = 0.05)
      val t0 = System.nanoTime()
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, "a", "b")
      println(f"PROBE-CC d6-pairs n=${labels.count()}%6d rounds=$rounds%3d " +
        f"t=${(System.nanoTime() - t0) / 1e9}%5.1fs")
    }

    val embAll = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val embIds: Array[Long] =
      if (Seq("d9", "pq").exists(want))
        embAll.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
      else Array.empty
    val embFull = embIds.length.toLong
    for (frac <- Seq(8, 4, 2, 1) if want("d9") && embIds.nonEmpty) {
      val n = math.max(1, (embFull / frac).toInt)
      val sub = embAll.filter(col("vec_id") <= embIds(n - 1)).localCheckpoint()
      val auto = operators.Similarity.cellsForCorpus(n, 64)
      println(f"PROBE-D9 sf0.1/$frac%-4s n=$n%6d " +
        f"fixed16_cand=${d9Candidates(sub, 16)}%10d " +
        f"auto_cells=$auto%4d auto_cand=${d9Candidates(sub, auto)}%10d")
    }

    // PQ index footprint (round 15): on-disk bytes of the raw `assigned`
    // extent vs the PQ `codes` extent at e2l's production shape (m=16,
    // ksub=256) — the compression claim behind the IVF-PQ lane, measured
    // on the real corpus rather than asserted from 16·1B vs 64·4B.
    if (want("pq")) {
      val cents = operators.Similarity.kmeansCentroids(embAll, 16)
      val model = operators.Pq.train(embAll, m = 16, ksub = 256)
      val dir = java.nio.file.Files.createTempDirectory("pqprobe").toString
      operators.Pq.buildPqIndex(embAll, cents, model, dir)
      def bytes(sub: String): Long = {
        val d = new java.io.File(s"$dir/$sub")
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      }
      val raw = bytes("assigned"); val pq = bytes("codes"); val cb = bytes("codebooks")
      println(f"PROBE-PQ n=$embFull%6d assigned=$raw%9d B codes=$pq%9d B " +
        f"codebooks=$cb%8d B ratio=${raw.toDouble / pq}%5.1fx")
    }

    // Round-15 lane growth: cross-doc sentence dedup (d10) and dup-span
    // detection (d11) on the same nested documents ladder — both are
    // claimed linear in corpus tokens (one explode + map-side-combined
    // aggregates), so the observable is total exploded units + wall.
    for (frac <- Seq(4, 2, 1) if want("r15") && ids.nonEmpty) {
      val n = math.max(1, (full / frac).toInt)
      val sub = all.filter(col("doc_id") <= ids(n - 1)).localCheckpoint()
      val t0 = System.nanoTime()
      val d10rows = Dedup.crossDocSentenceDedup(sub, "doc_id", "text").count()
      val t10 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val wtot = Dedup.dupSpanStats(sub, "doc_id", "text", 10)
        .agg(sum(col("n_windows")), sum(col("n_dup"))).head()
      val t11 = (System.nanoTime() - t1) / 1e9
      println(f"PROBE-R15 sf0.1/$frac%-4s n=$n%6d d10_docs=$d10rows%6d t=$t10%5.1fs | " +
        f"d11_windows=${wtot.getLong(0)}%9d dup=${wtot.getLong(1)}%8d t=$t11%5.1fs")
    }
    if (want("r15")) {
      // d6b: the incremental fold's contracted subgraph vs the full edge
      // set — the cost argument is |contracted| << |edges| once most of
      // the graph is historical.
      val pairs = Dedup.minhashLshPortable(all, "doc_id", "text",
        numPerms = 16, bands = 8, threshold = 0.05).localCheckpoint()
      val oldPairs = pairs.filter(col("a") % 10 =!= 0 && col("b") % 10 =!= 0)
      val deltaPairs = pairs.filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      val t0 = System.nanoTime()
      val batchComps = Dedup.connectedComponents(pairs, "a", "b").count()
      val tBatch = (System.nanoTime() - t0) / 1e9
      val oldLabels = Dedup.connectedComponents(oldPairs, "a", "b").localCheckpoint()
      val t1 = System.nanoTime()
      val incComps = Dedup.connectedComponentsIncremental(oldLabels, deltaPairs, "a", "b").count()
      val tInc = (System.nanoTime() - t1) / 1e9
      println(f"PROBE-R15 d6b edges=${pairs.count()}%6d delta=${deltaPairs.count()}%6d " +
        f"batch_nodes=$batchComps%6d t=$tBatch%5.1fs | inc_nodes=$incComps%6d t_inc=$tInc%5.1fs")
    }

    // Late-round-15 lanes on the nested ladder: the NB classifier (t16) and
    // DSIR weighting (ws2) both claim one token-granularity shuffle with
    // everything downstream re-aggregated from distinct-word frames — the
    // observables are the model-relation size (distinct (class, word) /
    // distinct word rows: sub-linear in tokens, bounded by vocabulary) and
    // wall; m5's decode is exactly linear in samples by construction.
    for (frac <- Seq(4, 2, 1) if want("r15b") && ids.nonEmpty) {
      val n = math.max(1, (full / frac).toInt)
      val sub = all.filter(col("doc_id") <= ids(n - 1)).localCheckpoint()
      val t0 = System.nanoTime()
      val nbOut = LanguageModel.naiveBayesClassify(
        sub.filter(col("doc_id") % 2 === 0), sub.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", "lang").count()
      val tNb = (System.nanoTime() - t0) / 1e9
      val modelRows = sub.filter(col("doc_id") % 2 === 0)
        .select(col("lang"), explode(graft.functions.Text.tokens(col("text"))).as("w"))
        .select("lang", "w").distinct().count()
      val t1 = System.nanoTime()
      val wts = LanguageModel.importanceWeights(sub, "doc_id", "text",
        col("lang") === "en").localCheckpoint()
      val wsTok = wts.agg(sum(col("n_toks"))).head().getLong(0)
      val tWs = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val samples = Multimodal.decodePcmFeatures(
          Multimodal.syntheticPcm(sub.select("doc_id"), "doc_id"))
        .agg(sum(col("audio.n_samples"))).head().getLong(0)
      val tM5 = (System.nanoTime() - t2) / 1e9
      // m6 pairs are group-local by construction (md5 pattern is aperiodic
      // across groups), so pair volume must grow LINEARLY with the corpus
      // — 6 in-group pairs per 4 ids, minus rare >3-bit perturbation loss
      val t3 = System.nanoTime()
      val sigs = Multimodal.audioSigs(
        Multimodal.syntheticPcmTones(sub.select("doc_id"), "doc_id")).localCheckpoint()
      val m6pairs = Dedup.simhashPairsFromSigs(sigs, "media_id", "asig", 3).count()
      val tM6 = (System.nanoTime() - t3) / 1e9
      val t4 = System.nanoTime()
      val m7cuts = Multimodal.sceneCuts(
        Multimodal.syntheticVideo(sub.select("doc_id"), "doc_id")).count()
      val tM7 = (System.nanoTime() - t4) / 1e9
      println(f"PROBE-R15B sf0.1/$frac%-4s n=$n%6d t16_model=$modelRows%7d " +
        f"out=$nbOut%6d t=$tNb%5.1fs | ws2_toks=$wsTok%8d t=$tWs%5.1fs | " +
        f"m5_samples=$samples%8d t=$tM5%5.1fs | m6_pairs=$m6pairs%6d t=$tM6%5.1fs | " +
        f"m7_cuts=$m7cuts%6d t=$tM7%5.1fs")
    }

    // Late-round-15 training-assembly lanes. The BPE claim under test: the
    // corpus is touched once (word count) and every training iteration is
    // VOCABULARY-sized — so the observables are vocab rows (Heaps-law
    // sub-linear in corpus) and the iteration-1 pair-relation size (bounded
    // by vocab x word length), with the 4-merge train wall tracking vocab,
    // not corpus. sh1/c5 are linear passes whose rank parallelism is
    // shards/sources x slices by construction; d7c is one semi join linear
    // in training shingles.
    for (frac <- Seq(4, 2, 1) if want("r15c") && ids.nonEmpty) {
      val n = math.max(1, (full / frac).toInt)
      val sub = all.filter(col("doc_id") <= ids(n - 1)).localCheckpoint()
      val t0 = System.nanoTime()
      val wc = graft.operators.Bpe.wordCounts(sub, "text").localCheckpoint()
      val vocabRows = wc.count()
      val tWc = (System.nanoTime() - t0) / 1e9
      val pairRows = graft.operators.Bpe.pairCounts(
        wc.select(graft.operators.Bpe.symbolize(col("word")).as("syms"), col("cnt"))).count()
      val t1 = System.nanoTime()
      graft.operators.Bpe.trainMerges(wc, 4)
      val tTrain = (System.nanoTime() - t1) / 1e9
      val t2b = System.nanoTime()
      val shRows = graft.operators.Splits.deterministicShuffle(
        sub.select("doc_id"), "doc_id", "probe", 8).count()
      val tSh = (System.nanoTime() - t2b) / 1e9
      val t3b = System.nanoTime()
      val d7cRows = Dedup.contaminationFractions(
        sub.filter(col("doc_id") % 97 =!= 0), sub.filter(col("doc_id") % 97 === 0),
        "doc_id", "text").count()
      val tFr = (System.nanoTime() - t3b) / 1e9
      println(f"PROBE-R15C sf0.1/$frac%-4s n=$n%6d bpe_vocab=$vocabRows%7d " +
        f"t=$tWc%5.1fs bpe_pairs=$pairRows%6d train4=$tTrain%5.1fs | " +
        f"sh1=$shRows%6d t=$tSh%5.1fs | d7c=$d7cRows%5d t=$tFr%5.1fs")
    }

    // Round-16 hybrid-trainer probe: the distributed trainer pays one Spark
    // job + localCheckpoint PER MERGE (flat in corpus, linear in merge
    // count — ~2.2 h of pure scheduling at a production 32k vocabulary);
    // the hybrid form pays the word-count shuffle once and runs the merge
    // loop driver-side over the vocabulary-bounded table. Measured at 256
    // merges: the wall ratio IS the per-merge scheduling overhead the
    // hybrid removes. Parity is separately asserted here (not just in
    // BpeSpec) so the probe can never report a speedup for wrong output.
    if (want("r16a")) {
      val nMerges = 256
      val wc = graft.operators.Bpe.wordCounts(all, "text").localCheckpoint()
      val vocabRows = wc.count()
      val t0 = System.nanoTime()
      val local = graft.operators.Bpe.trainMergesLocal(wc, nMerges)
      val tLocal = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val dist = graft.operators.Bpe.trainMerges(wc, nMerges)
      val tDist = (System.nanoTime() - t1) / 1e9
      require(local == dist, s"hybrid/distributed trainer divergence at $nMerges merges")
      println(f"PROBE-R16A sf0.1 vocab=$vocabRows%7d merges=$nMerges%5d " +
        f"local=$tLocal%6.1fs distributed=$tDist%6.1fs ratio=${tDist / tLocal}%6.1fx parity=ok")
    }

    // Late-round-16 lanes. sft1's claim: one conversation-keyed shuffle,
    // linear in events, per-group state bounded by conversation length —
    // observables are events in vs rows out (equal) and wall. pg1's claim:
    // per-iteration cost linear in EDGES with a |nodes|-row rank frame —
    // the ladder scales the node set (edges = 3·nodes by construction) and
    // doubles the iteration count once to show wall tracks iterations
    // linearly, not super-linearly (flat checkpointed lineage).
    if (want("r16c")) {
      val ev = Tables.events(spark, sfDir)
        .withColumn("role",
          when(col("event_type").isin("view", "click"), "user").otherwise("assistant"))
        .withColumn("text", concat(col("event_type"), lit(" "),
          coalesce(col("props"), lit(""))))
        .localCheckpoint()
      val evFull = ev.count()
      for (frac <- Seq(4, 2, 1)) {
        val sub = ev.filter(col("event_id") % frac === 0).localCheckpoint()
        val nEv = sub.count()
        val t0 = System.nanoTime()
        val rows = graft.operators.Sft
          .renderChat(sub, "user_id", "ts", "event_id", "role", "text").count()
        val tS = (System.nanoTime() - t0) / 1e9
        println(f"PROBE-R16C sft1 sf0.1/$frac%-4s events=$nEv%7d rows=$rows%7d t=$tS%5.1fs")
      }
      val docsAll = Tables.documents(spark, sfDir).select(col("doc_id").as("id"))
      val idsPg = docsAll.orderBy("id").collect().map(_.getLong(0))
      for ((frac, iters) <- Seq((4, 4), (2, 4), (1, 4), (1, 8))) {
        val nDocs = math.max(1, (idsPg.length / frac))
        val sub = docsAll.filter(col("id") <= idsPg(nDocs - 1)).localCheckpoint()
        val n = sub.count()
        val edges = sub.select(col("id").as("src"),
          explode(array((1 to 3).map(j =>
            pmod(col("id") * (2 * j + 1) + j, lit(n))): _*)).as("dst"))
        val t0 = System.nanoTime()
        val out = graft.operators.Centrality
          .pageRankFixedPoint(edges, sub, iters).count()
        val tP = (System.nanoTime() - t0) / 1e9
        println(f"PROBE-R16C pg1 sf0.1/$frac%-4s nodes=$n%6d iters=$iters%2d " +
          f"ranks=$out%6d t=$tP%5.1fs")
      }
      println(s"PROBE-R16C events_full=$evFull")
    }

    // dpo1/c9 growth posture. Claims under test: pair assembly is one
    // map-side-combined aggregation whose OUTPUT is bounded by the prompt
    // domain (64 groups at any corpus size — time must track the linear
    // scoring scan, rows must stay flat); c9's composed line adds the
    // dedup scan and the decon inverted-index probe, whose cost tracks
    // candidate-shingle volume (linear), never candidates × eval.
    if (want("r16d")) {
      val docsAll = Tables.documents(spark, sfDir).localCheckpoint()
      for (frac <- Seq(4, 2, 1)) {
        val sub = docsAll.filter(col("doc_id") % frac === 0).localCheckpoint()
        val n = sub.count()
        val scored = graft.queries.ExtensionQueries.qualityFrame(sub)
          .select(col("doc_id"), pmod(col("doc_id"), lit(64L)).as("prompt_id"),
            round(col("quality") * 10000).cast("long").as("qfp"))
        var t0 = System.nanoTime()
        val nPairs = graft.operators.Preference
          .preferencePairs(scored, "prompt_id", "doc_id", "qfp", 500L).count()
        val tD = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val nAdv = graft.operators.Preference
          .groupAdvantage(scored, "prompt_id", "doc_id", "qfp").count()
        val tA = (System.nanoTime() - t0) / 1e9
        // c9: the composed line over the same subset
        val keepers = graft.operators.Dedup
          .exactByFingerprint(sub, "text", "doc_id").select("doc_id")
        val evalDocs = sub.filter(col("doc_id") % 97 === 0)
        val cands = sub.join(keepers, "doc_id").filter(col("doc_id") % 97 =!= 0)
        t0 = System.nanoTime()
        val contaminated = graft.operators.Dedup
          .contaminationPairs(cands, evalDocs, "doc_id", "text", minShared = 2)
          .select(col("train_id").as("doc_id")).distinct()
        val clean = cands.join(contaminated, Seq("doc_id"), "left_anti")
        val cScored = graft.queries.ExtensionQueries.qualityFrame(clean)
          .select(col("doc_id"), pmod(col("doc_id"), lit(64L)).as("prompt_id"),
            round(col("quality") * 10000).cast("long").as("qfp"))
        val nC9 = graft.operators.Preference
          .preferencePairs(cScored, "prompt_id", "doc_id", "qfp", 500L).count()
        val tC = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val nFim = graft.operators.Sft
          .fimTransform(sub, "doc_id", "text").count()
        val tF = (System.nanoTime() - t0) / 1e9
        println(f"PROBE-R16D sf0.1/$frac%-4s docs=$n%6d dpo1_pairs=$nPairs%4d " +
          f"t_dpo1=$tD%5.1fs grp1_rows=$nAdv%6d t_grp1=$tA%5.1fs " +
          f"c9_pairs=$nC9%4d t_c9=$tC%5.1fs fim1_rows=$nFim%6d t_fim1=$tF%5.1fs")
      }
    }

    // Round-16 lanes on the nested ladder. Claims under test: t17's LM
    // model is vocabulary-bounded (distinct reference-slice bigrams —
    // Heaps-law sub-linear in corpus) while scoring is one linear pass;
    // rrf1's lexical work is the posting-list volume its query terms touch
    // (tracks corpus term frequency, not queries × corpus) with a CONSTANT
    // fused output; d7d's matched state is bounded by the EVAL SUITE — the
    // state rows must stay ~flat as the corpus doubles (the whole point of
    // inverting the incremental direction).
    for (frac <- Seq(4, 2, 1) if want("r16b") && ids.nonEmpty) {
      val n = math.max(1, (full / frac).toInt)
      val sub = all.filter(col("doc_id") <= ids(n - 1)).localCheckpoint()
      val t0 = System.nanoTime()
      val t17out = LanguageModel.perplexityBuckets(
        sub.filter(col("doc_id") % 5 === 0), sub.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", "lang").count()
      val tT17 = (System.nanoTime() - t0) / 1e9
      val trToks = sub.filter(col("doc_id") % 5 === 0)
        .select(Text.tokens(col("text")).as("toks"))
      val modelRows = trToks.filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1)))).as("bg"))
        .distinct().count()
      val emb = Tables.embeddings(spark, sfDir)
      val t1 = System.nanoTime()
      val rrfRows = Retrieval.rrfFuse(sub, emb, col("doc_id") < 8).count()
      val tRrf = (System.nanoTime() - t1) / 1e9
      val dw = sub.select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
        .distinct().localCheckpoint()
      val postRows = dw.join(
        dw.filter(col("doc_id") < 8).select(col("word")).distinct(), "word").count()
      val t2 = System.nanoTime()
      val evalInv = Dedup.contaminationIndexFrame(
        sub.filter(col("doc_id") % 97 === 0), "doc_id", "text")
      val train = sub.filter(col("doc_id") % 97 =!= 0)
      val state = Dedup.contaminationProbe(evalInv,
          train.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        .unionAll(Dedup.contaminationProbe(evalInv,
          train.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
        .distinct().localCheckpoint()
      val stateRows = state.count()
      val d7dRows = Dedup.contaminationVerdictsFromState(evalInv, state).count()
      val tD7d = (System.nanoTime() - t2) / 1e9
      val evalRows = evalInv.count()
      println(f"PROBE-R16B sf0.1/$frac%-4s n=$n%6d t17_model=$modelRows%7d " +
        f"out=$t17out%6d t=$tT17%5.1fs | rrf_post=$postRows%7d out=$rrfRows%4d " +
        f"t=$tRrf%5.1fs | d7d_eval=$evalRows%6d state=$stateRows%6d " +
        f"out=$d7dRows%4d t=$tD7d%5.1fs")
    }
    // R18: rj1's output-growth defense, mechanized (round-17 verdict item
    // 3 — two rounds of "pairs grow 100×, runtime sub-linear in output" was
    // prose; this makes it a PROBE record with a tripwire). The copies
    // shift KEYS only (the MakeScale scheme) and leave every date column
    // unchanged, and bandRangeJoin pairs on dates alone — so the true pair
    // set grows EXACTLY quadratically in the copy factor (every point-copy
    // × interval-copy of a base pair matches), asserted below, while the
    // per-pair cost must stay flat: a banded range join's wall is band
    // replication + candidate volume, both linear in output here. The
    // tripwire fails the probe loudly if time/pair at the largest scale
    // grows past 3× the base reading (generous host-band headroom; a
    // superlinear plan regression — e.g. the equi-join degrading to a
    // nested loop — reads 10×+).
    if (want("r18")) {
      def shiftCopies(df: DataFrame, keys: Seq[String], factor: Int): DataFrame = {
        val copies = df.withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
        keys.foldLeft(copies)((d, k) =>
          d.withColumn(k, col(k) + col("copy") * lit(100000000L))).drop("copy")
      }
      val readings = for ((tag, factor) <- Seq(("x1", 1), ("x2", 2), ("x4", 4))) yield {
        val intervals = shiftCopies(Tables.orders(spark, sfDir), Seq("o_orderkey"), factor)
          .filter(col("o_orderpriority") === "1-URGENT" && year(col("o_orderdate")) === 1995)
          .select(col("o_orderkey"),
            (unix_date(col("o_orderdate").cast("date")) - 7).cast("long").as("lo_day"),
            unix_date(col("o_orderdate").cast("date")).cast("long").as("hi_day"))
          .localCheckpoint()
        val points = shiftCopies(Tables.lineitem(spark, sfDir), Seq("l_orderkey"), factor)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            unix_date(col("l_shipdate").cast("date")).cast("long").as("ship_day"))
          .localCheckpoint()
        val (nInt, nPts) = (intervals.count(), points.count())
        // warm once (codegen compile + exchange materialization), then take
        // the MIN of three timed runs — the probe measures the join, not
        // first-encounter JIT, and a hard `require` on a single reading can
        // fail the whole probe on one GC pause / noisy-neighbor hiccup
        // (round-19 advice item 3 — the repo's min-of-N timing discipline)
        def run(): Long = Temporal.bandRangeJoin(
          points, "ship_day", intervals, "lo_day", "hi_day", bandWidth = 8L).count()
        run()
        var nPairs = 0L
        val wall = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          nPairs = run()
          (System.nanoTime() - t0) / 1e9
        }.min
        val usPerPair = wall * 1e6 / math.max(nPairs, 1L)
        println(f"PROBE-R18 rj1 $tag%-3s intervals=$nInt%7d points=$nPts%8d " +
          f"n_pairs=$nPairs%10d wall=$wall%6.2fs us_per_pair=$usPerPair%8.3f")
        (factor, nPairs, wall)
      }
      val (_, basePairs, baseWall) = readings.head
      for ((factor, nPairs, wall) <- readings.tail) {
        require(nPairs == factor.toLong * factor * basePairs,
          s"rj1 x$factor pair count $nPairs != ${factor * factor}x base $basePairs — " +
            "the key-shifted upscale no longer grows output quadratically; " +
            "re-derive the growth model before trusting the ratio")
        val tppBase = baseWall / math.max(basePairs, 1L)
        val tpp = wall / math.max(nPairs, 1L)
        require(tpp <= 3.0 * tppBase,
          f"rj1 TRIPWIRE: time/pair at x$factor (${tpp * 1e6}%.3f us) grew past 3x " +
            f"base (${tppBase * 1e6}%.3f us) — superlinear in output, not the " +
            "documented output-growth class")
      }
    }

    // R19: fitted growth EXPONENTS for the dedup/similarity families
    // (round-18 verdict item 4): two ladder points cannot distinguish
    // linear-with-constant from n log n or worse — three can. Ladder =
    // ×1 (sf0.1) / ×3 / ×10 key-shifted salted copies (the MakeScale
    // scheme — copies are NOT near-dups, so the ladder measures corpus-
    // size scaling, not injected duplication). Per lane the probe fits
    // the least-squares log-log slope of its WORK PROXY — the CANDIDATE
    // volume for d2/e2c/m4 and the round count for d6, all deterministic
    // counts (so no min-of-N repetition is needed for the TRIPWIRES,
    // unlike wall time — advice item 3's lesson) — and `require`s:
    //  - d2 (MinHash banded candidates, signature-valued keys — key space
    //    grows with the corpus): fitted exponent ≤ 1.35;
    //  - e2c (SRP banding with planesForCorpus-scaled planes — E[bucket
    //    pop] pinned by design): fitted exponent ≤ 1.35;
    //  - m4 (FIXED 2^16-key pigeonhole bands — the chance-collision term
    //    is quadratic BY DESIGN, §6.1, so a raw exponent cap would
    //    misfire): candidates must track the model
    //    true_linear + bands·nC2/2^16 within 2× at every rung — a
    //    banding regression (band-width bug collapsing the key space)
    //    reads 10×+ over the model and trips;
    //  - d6 (salted large/small-star CC): rounds(×10) ≤ rounds(×1) + 4
    //    (the O(log n) claim: log2(10) ≈ 3.3).
    // Wall seconds are printed per rung as supporting record only — the
    // deterministic proxies do the gating.
    if (want("r19")) {
      // doc/embedding ladders are the shared upscaleDecor/upscaleEmb
      // (object level since r20 — the every-THIRD-token salt and the
      // rotation scheme; scaladoc there records why MakeScale's every-5th
      // salt leaks at the candidate level, §6.1l finding 1).
      // ×30 joined in late round 19: the rung values are deterministic
      // counts (no noise to average away), so a fourth point genuinely
      // extends the measured range — in particular past e2c's discrete
      // planesForCorpus jumps (5→7→9→11 planes across the ladder), whose
      // wiggle dominates any 3-point fit of that lane.
      val embAll = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      val rungs = Seq(1, 3, 10, 30).map { f =>
        val docs = (if (f == 1) all else upscaleDecor(all, f)).localCheckpoint()
        val emb = (if (f == 1) embAll else upscaleEmb(embAll, f)).localCheckpoint()
        val nDocs = docs.count()
        val nEmb = emb.count()
        val (d2c, tD2) = timed(d2Candidates(docs))
        val (e2cc, tE2c) = timed(e2cCandidates(emb, nEmb))
        val sigs = Multimodal.dHashSigs(
          Multimodal.syntheticGridImages(docs.select("doc_id"), "doc_id"))
          .localCheckpoint()
        val (m4c, tM4) = timed(pigeonholeCandidates(sigs, "media_id", "dhash"))
        val ((_, d6rounds), tD6) = timed(Dedup.connectedComponentsWithRounds(
          Dedup.minhashLshPortable(docs, "doc_id", "text", 16, 8, 0.05), "a", "b"))
        println(f"PROBE-R19 x$f%-2d n_docs=$nDocs%6d n_emb=$nEmb%6d " +
          f"d2_cand=$d2c%8d t=$tD2%5.1fs | e2c_cand=$e2cc%8d t=$tE2c%5.1fs | " +
          f"m4_cand=$m4c%8d t=$tM4%5.1fs | d6_rounds=$d6rounds%2d t=$tD6%5.1fs")
        (f, nDocs, nEmb, d2c, e2cc, m4c, d6rounds)
      }
      val d2Exp = fitExponent(rungs.map(r => (r._2, r._4)))
      val e2cExp = fitExponent(rungs.map(r => (r._3, r._5)))
      val m4Exp = fitExponent(rungs.map(r => (r._2, r._6)))
      println(f"PROBE-R19 exponents: d2=$d2Exp%.3f e2c=$e2cExp%.3f m4=$m4Exp%.3f " +
        f"d6_rounds=${rungs.map(_._7).mkString("/")}")
      require(d2Exp <= 1.35,
        f"d2 TRIPWIRE: fitted candidate-growth exponent $d2Exp%.3f > 1.35 — " +
          "signature-keyed banding no longer ~linear; check the band key width")
      require(e2cExp <= 1.35,
        f"e2c TRIPWIRE: fitted candidate-growth exponent $e2cExp%.3f > 1.35 — " +
          "planesForCorpus no longer pins E[bucket pop]; check the plane scaling")
      // and the DESIGN ceiling itself, per rung: E[pop] ≤ targetPop gives
      // candidates ≈ n·targetPop·bands/2 under uniform buckets; real
      // embeddings CLUSTER, so the second moment (which is what Σ C(n_k,2)
      // actually integrates) runs a measured 1.1–1.3× over the uniform
      // model even with independent planes — the 2× allowance covers that
      // intrinsic skew while still tripping hard on key-space collapse
      // (the period-7 plane bug this wire + the exponent cap caught in
      // round 19 read 2.25× at ×30 and grows quadratically from there)
      for ((f, _, nEmb, _, e2cc, _, _) <- rungs) {
        val ceiling = 2.0 * nEmb.toDouble * 64 * 8 / 2
        require(e2cc <= ceiling,
          f"e2c TRIPWIRE at x$f: candidates $e2cc%d exceed 2x the design " +
            f"model n*targetPop*bands/2 (ceiling $ceiling%.0f) — bucket " +
            "population is no longer bounded by targetPop")
      }
      // m4: model tripwire, not an exponent cap — the fixed-2^16-key chance
      // term is quadratic BY DESIGN. The first r19 run showed the uniform-
      // key model (bands·nC2/2^16) undershoots 2.2×: the synthetic images'
      // dHash band keys are SKEWED (collisions scale with 65536·Σp_k² ≈ 4,
      // not 1). So fit cand(n) = A·n + B·n² from the first two rungs and
      // tripwire on (a) the x10 rung matching the fit — measured 383,101
      // vs predicted 387,545 on the first run, 1.2% — a banding regression
      // breaks the EXTRAPOLATION by orders of magnitude; and (b) B bounded
      // at 50× the uniform-key coefficient — a collapsed key space (e.g.
      // a band-width bug leaving 2^8 effective keys) reads 250×+ uniform.
      val (n1d, m4c1) = (rungs.head._2.toDouble, rungs.head._6.toDouble)
      val (n2d, m4c2) = (rungs(1)._2.toDouble, rungs(1)._6.toDouble)
      val bQuad = (m4c2 - m4c1 * n2d / n1d) / (n2d * n2d - n1d * n2d)
      val aLin = (m4c1 - bQuad * n1d * n1d) / n1d
      val uniformB = 4.0 / 65536.0 / 2.0
      println(f"PROBE-R19 m4 model: A=$aLin%.3f B=$bQuad%.3e " +
        f"(B/uniform=${bQuad / uniformB}%.1f)")
      require(bQuad <= 50.0 * uniformB,
        f"m4 TRIPWIRE: quadratic coefficient $bQuad%.3e > 50x the uniform " +
          f"2^16-key model ($uniformB%.3e) — the band key space has collapsed")
      // The ×30 rung joined after these wires were calibrated for ×10, so
      // gate each EXTRAPOLATION rung explicitly with its own bound and name
      // the rung in the message (round-20 advice item 1): the m4 fit is
      // checked at every rung past the two it was fitted on, and the d6
      // O(log n) bound is ceil(log2(f)) headroom over the ×1 baseline —
      // +4 at ×10 (log2(10) ≈ 3.3), +5 at ×30 (log2(30) ≈ 4.9); the flat
      // +4 the ×10 calibration used would false-trip a healthy
      // implementation running near the model bound at ×30.
      for (r <- rungs.drop(2)) {
        val (f, nD, m4cF) = (r._1, r._2.toDouble, r._6.toDouble)
        val m4pred = aLin * nD + bQuad * nD * nD
        require(m4cF <= 2.0 * m4pred && m4cF >= 0.3 * m4pred,
          f"m4 TRIPWIRE at x$f%d: candidates $m4cF%.0f vs two-rung-fit " +
            f"prediction $m4pred%.0f — growth no longer follows the " +
            "linear+pigeonhole model")
        val d6Allow = math.ceil(math.log(f.toDouble) / math.log(2.0)).toInt
        require(r._7 <= rungs.head._7 + d6Allow,
          s"d6 TRIPWIRE at x$f: CC rounds grew ${rungs.head._7} -> ${r._7} " +
            s"— more than the O(log n) model's +$d6Allow; star contraction " +
            "is no longer halving components per round")
      }
    }

    // R20 (round-19 verdict item 3): the §6.1l exponent ladder extended to
    // the banding families that still had only single-ratio growth records,
    // plus e2c's absolute verify-work wire. Same ×1/×3/×10/×30 rungs, same
    // deterministic work proxies (counts, not wall time):
    //  - d5b: the production edit-distance lane's MinHash blocking
    //    (16 perms / 8 bands — 2-ROW band keys, a wider-collision family
    //    than d2's 4-row bands, so it needs its own fit). Tripwire:
    //    fitted exponent ≤ 1.35.
    //  - d9: SemDeDup cell pairs Σ C(|cell|,2) under the corpus-scaled
    //    cellsForCorpus quantizer (the semanticDedupAuto scale path; the
    //    oracle lane's fixed 16 cells are gate-scale machinery). Tripwire:
    //    fitted exponent ≤ 1.35 — cells scale with the corpus, so E[|cell|]
    //    is pinned and pair volume must stay ~linear.
    //  - m6: audio-fingerprint pigeonhole (fixed 2^16 keys — quadratic
    //    chance term BY DESIGN, exactly m4): two-rung A·n + B·n² fit,
    //    extrapolation rungs within [0.3, 2]× prediction, B ≤ 50× the
    //    uniform-key coefficient.
    //  - d7/d7b: decontamination against a FIXED eval suite (the
    //    deployment model — benchmark suites do not grow with the training
    //    corpus; the corpus-grown eval the d7 QUERY uses at gate scale
    //    would make the ladder measure the upscaler's position-aligned
    //    salt shingles instead of the operator). Proxies: matched
    //    inverted-index rows (d7's join output — must stay eval-bounded:
    //    ≤ 2× base at every rung, since decorrelated copies share no
    //    shingle with the unsalted eval slice) and d7b's Bloom-surviving
    //    train shingles (must stay ≤ matches + 2·fpp·train_shingles — the
    //    prefilter's whole value is that survivors track true matches
    //    plus the false-positive allowance, not corpus size).
    //  - e2c ABSOLUTE wire (verdict item 3's second half): verify work per
    //    MODEL-EXPECTED true pair. E_f = f · Σ_baseTruth 1-(1-p^planes_f)^8
    //    (rotation preserves within-copy inner products, so the true-pair
    //    structure replicates per copy and truth(f) = f·truth(1) by
    //    construction). Wires: found_f ≥ 0.5·E_f (the lane's half-
    //    expectation floor, now also held on the ladder where planes reach
    //    10) and cand_f/E_f ≤ 3× cand_1/E_1 (verify work per expected true
    //    pair bounded — distinguishes "more recall = more verified pairs",
    //    where E grows in lockstep, from a verify/banding regression,
    //    where candidates grow without it).
    if (want("r20")) {
      import graft.operators.Similarity
      import graft.functions.Vectors
      val embAll = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      // base truth ONCE (quadratic at BASE scale only — 2M pair cosines at
      // sf0.1): all pairs with rounded cosine ≥ 0.4, the wire's denominator
      val withNorm = embAll.withColumn("nrm", Vectors.norm2(col("embedding")))
      val baseTruth = withNorm
        .select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na"))
        .join(withNorm.select(col("vec_id").as("b"), col("embedding").as("eb"),
          col("nrm").as("nb")), col("a") < col("b"))
        .withColumn("cosine", round(
          Vectors.cosine(col("ea"), col("eb"), col("na"), col("nb")), 4))
        .filter(col("cosine") >= 0.4)
        .select("a", "b", "cosine").localCheckpoint()
      val nBaseTruth = baseTruth.count()
      def expectedHits(planes: Int): Double = baseTruth
        .agg(coalesce(sum(lit(1.0) - pow(lit(1.0) -
          pow(lit(1.0) - acos(col("cosine")) / math.Pi, lit(planes)),
          lit(8))), lit(0.0)))
        .collect()(0).getDouble(0)
      // the FIXED eval suite for d7/d7b: the base corpus's %97 slice
      val evalSuite = all.filter(col("doc_id") % 97 === 0).localCheckpoint()
      // two-projection form (the Dedup.shingleArrays discipline — round-20
      // advice): inlining shingles3(tokens(text)) in ONE expression re-runs
      // the tokenizer per shingle element (no CSE inside higher-order
      // functions) — probe wall-time only, results unaffected
      def shingleInv(docs: DataFrame, as: String): DataFrame =
        docs.select(col("doc_id").as(as), Text.tokens(col("text")).as("toks"))
          .select(col(as), array_distinct(Text.shingles3(col("toks"))).as("sh"))
          .select(col(as), explode(transform(col("sh"), x => xxhash64(x))).as("h"))
      val evalInv = shingleInv(evalSuite, "eval_id").localCheckpoint()
      val evalBloomBytes = {
        val bf = evalInv.stat.bloomFilter("h", math.max(1L, evalInv.count()), 0.01)
        val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
      }
      val rungs = Seq(1, 3, 10, 30).map { f =>
        val docs = (if (f == 1) all else upscaleDecor(all, f)).localCheckpoint()
        val emb = (if (f == 1) embAll else upscaleEmb(embAll, f)).localCheckpoint()
        val nDocs = docs.count(); val nEmb = emb.count()
        // d5b blocking: 16-perm / 8-band (2-row) MinHash candidates
        val (d5bc, tD5b) = timed(Dedup.minhashLshCandidates(
          Dedup.minhashSignatures(docs, "doc_id", "text", 16), "doc_id", 16, 8).count())
        // d7: train side = everything not in the FIXED eval suite
        val trainInv = shingleInv(
          docs.join(evalSuite.select("doc_id"), Seq("doc_id"), "left_anti"),
          "train_id").localCheckpoint()
        val nTrainSh = trainInv.count()
        val (d7m, tD7) = timed(
          trainInv.join(broadcast(evalInv), Seq("h")).count())
        val (d7bSurv, tD7b) = timed(trainInv.filter(
          call_function("bloom_might_contain", col("h"), lit(evalBloomBytes))).count())
        // d9: corpus-scaled quantizer, Σ C(|cell|,2)
        val nCells = Similarity.cellsForCorpus(nEmb)
        val (d9c, tD9) = timed {
          val sizes = Similarity.assignCells(emb,
              Similarity.firstNCentroids(embAll, nCells))
            .groupBy("cell").count()
          sizes.agg(coalesce(sum(col("count") * (col("count") - lit(1))), lit(0L)))
            .collect()(0).getLong(0) / 2
        }
        // m6: audio-fingerprint pigeonhole candidates
        val asigs = Multimodal.audioSigs(
          Multimodal.syntheticPcmTones(docs.select("doc_id"), "doc_id"))
          .localCheckpoint()
        val (m6c, tM6) = timed(pigeonholeCandidates(asigs, "media_id", "asig"))
        // e2c wire inputs: candidates, found pairs, model expectation
        val planes = Similarity.planesForCorpus(nEmb, 64)
        val (e2cc, tEc) = timed(e2cCandidates(emb, nEmb))
        val (e2cf, tEf) = timed(Similarity.cosineNearDupPairsBanded(
          emb, 0.4, planesPerBand = planes, nBands = 8).count())
        val eExp = f * expectedHits(planes)
        println(f"PROBE-R20 x$f%-2d n_docs=$nDocs%6d n_emb=$nEmb%6d " +
          f"d5b_cand=$d5bc%8d t=$tD5b%5.1fs | " +
          f"d7_matched=$d7m%6d d7b_surv=$d7bSurv%7d train_sh=$nTrainSh%8d " +
          f"t=$tD7%5.1fs/$tD7b%5.1fs | d9_pairs=$d9c%8d cells=$nCells%4d " +
          f"t=$tD9%5.1fs | m6_cand=$m6c%8d t=$tM6%5.1fs | " +
          f"e2c planes=$planes%2d cand=$e2cc%9d found=$e2cf%6d " +
          f"exp=$eExp%8.1f t=$tEc%5.1fs/$tEf%6.1fs")
        (f, nDocs, nEmb, d5bc, d7m, d7bSurv, nTrainSh, d9c, m6c, e2cc, e2cf, eExp)
      }
      val d5bExp = fitExponent(rungs.map(r => (r._2, r._4)))
      val d9Exp = fitExponent(rungs.map(r => (r._3, r._8)))
      println(f"PROBE-R20 exponents: d5b=$d5bExp%.3f d9=$d9Exp%.3f " +
        f"base_truth=$nBaseTruth%d")
      require(d5bExp <= 1.35,
        f"d5b TRIPWIRE: fitted blocking-candidate exponent $d5bExp%.3f > 1.35 " +
          "— the 2-row band family no longer ~linear; check the band key width")
      require(d9Exp <= 1.35,
        f"d9 TRIPWIRE: fitted cell-pair exponent $d9Exp%.3f > 1.35 — " +
          "cellsForCorpus no longer pins E[|cell|]; check the quantizer scaling")
      // d7: matched rows are EVAL-BOUNDED under a fixed suite (decorrelated
      // copies share no shingle with the unsalted eval slice, so growth
      // would mean the probe is leaking)
      val d7Base = math.max(1L, rungs.head._5)
      for (r <- rungs.tail)
        require(r._5 <= 2 * d7Base,
          s"d7 TRIPWIRE at x${r._1}: matched rows ${r._5} > 2x base $d7Base " +
            "under a FIXED eval suite — contamination join output is no " +
            "longer eval-bounded")
      // d7b: Bloom survivors ≤ matches + 2·fpp·train_shingles at every rung
      for (r <- rungs)
        require(r._6 <= r._5 + (2 * 0.01 * r._7).toLong,
          s"d7b TRIPWIRE at x${r._1}: bloom survivors ${r._6} exceed matches " +
            s"${r._5} + 2*fpp*train_shingles ${(2 * 0.01 * r._7).toLong} — " +
            "the prefilter no longer tracks true matches + fp allowance")
      // m6: the m4 discipline — two-rung linear+quadratic fit, gate the
      // extrapolation rungs
      val (n1, c1) = (rungs.head._2.toDouble, rungs.head._9.toDouble)
      val (n2, c2) = (rungs(1)._2.toDouble, rungs(1)._9.toDouble)
      val bQ = (c2 - c1 * n2 / n1) / (n2 * n2 - n1 * n2)
      val aL = (c1 - bQ * n1 * n1) / n1
      val uniB = 4.0 / 65536.0 / 2.0
      println(f"PROBE-R20 m6 model: A=$aL%.3f B=$bQ%.3e (B/uniform=${bQ / uniB}%.1f)")
      require(bQ <= 50.0 * uniB,
        f"m6 TRIPWIRE: quadratic coefficient $bQ%.3e > 50x the uniform " +
          f"2^16-key model ($uniB%.3e) — the audio band key space has collapsed")
      for (r <- rungs.drop(2)) {
        val nD = r._2.toDouble
        val pred = aL * nD + bQ * nD * nD
        require(r._9 <= 2.0 * pred && r._9 >= 0.3 * pred,
          f"m6 TRIPWIRE at x${r._1}%d: candidates ${r._9}%d vs two-rung-fit " +
            f"prediction $pred%.0f — growth no longer follows the " +
            "linear+pigeonhole model")
      }
      // e2c wires. Wire A: found ≥ half the replicated-base expectation —
      // recall collapse (the §6.1m failure class) at ladder scale. E_f
      // UNDERCOUNTS the rung's truth (rotation-stable vectors make genuine
      // cross-copy pairs — found(×3) measured 3.2× E_3 — so the floor is
      // conservative in the safe direction). Wire B: verify work per FOUND
      // pair vs the DESIGN model's work per EXPECTED pair at the SAME
      // plane budget — (cand/found) ≤ 3 × (designCeiling/E). Both sides
      // carry the rung's own banding recall, so the ratio is stable under
      // the plane-budget recall decay (a raw cand/E bound grows r_1/r_f ≈
      // 5× from 5 to 10 planes on HEALTHY code — the confound this form
      // divides out), and it reads 10×+ exactly when candidates outgrow
      // the design or found pairs collapse below the model: verify
      // regression, not output growth.
      for (r <- rungs) {
        require(r._11 >= 0.5 * r._12,
          f"e2c TRIPWIRE at x${r._1}%d: found pairs ${r._11}%d < half the " +
            f"model expectation ${r._12}%.1f — banding recall collapsed " +
            "(the §6.1m failure class, now wired at ladder scale)")
        val measured = r._10.toDouble / math.max(1L, r._11)
        val ceiling = r._3.toDouble * 64 * 8 / 2
        val modeled = ceiling / math.max(1.0, r._12)
        require(measured <= 3.0 * modeled,
          f"e2c TRIPWIRE at x${r._1}%d: verify work per found pair " +
            f"$measured%.1f > 3x the design model's work per expected pair " +
            f"$modeled%.1f — candidates are growing without the recall to " +
            "show for it (verify regression, not output growth)")
      }
    }

    // R19S: the streaming exact-dedup gate driven over the ×10 corpus with
    // BOUNDED batches (round-18 verdict item 5 — the gate family's replay
    // protocols were spec-tested at toy scale only). Run with
    // SPARK_GRAFT_SF_DIR=/tmp/sf1 (the MakeScale ×10 corpus). Setup:
    //  - seed index = docs with doc_id % 7 == 0 (~1/7 of the corpus — the
    //    "existing corpus" the stream gates against); backlog = the other
    //    6/7, written as 16 id-RANGE-ordered files with forced ascending
    //    mtimes (FileStreamSource drains oldest-first, so batch order =
    //    id order and the greedy keep-smallest admission is batch-size-
    //    invariant). Disjoint ids by construction: the per-batch replay
    //    exclusion must never exclude a SEED entry.
    //  - threshold 2.0 disables the near-dup verify (Jaccard ≤ 1): the
    //    EXACT gate, whose fingerprint classes make one-shot ≡ split a
    //    THEOREM (exact equality is transitive; near-dup chains are not,
    //    and their order-dependence is documented gate semantics).
    //  - run A: one AvailableNow drain, no file cap → ONE batch;
    //    run B: maxFilesPerTrigger = 2 → 8 bounded batches.
    // Records wall-clock per run, per-batch admitted rows, index growth;
    // `require`s admitted-set AND index-state equality.
    if (want("r19s")) {
      import graft.streaming.StreamingPipeline
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang", "source")
      val seed = docs.filter(col("doc_id") % 7 === 0)
      val backlog = docs.filter(col("doc_id") % 7 =!= 0)
      val nSeed = seed.count(); val nBacklog = backlog.count()
      val work = java.nio.file.Files.createTempDirectory("r19s").toString
      // 16 id-range files, part index = range order, mtimes forced ascending
      val ranged = s"$work/ranged"
      backlog.repartitionByRange(16, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(ranged)
      val inDir = new java.io.File(s"$work/in"); inDir.mkdirs()
      val parts = new java.io.File(ranged).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        val dst = new java.io.File(inDir, f"doc_$i%02d.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        require(dst.setLastModified(1700000000000L + i * 60000L))
      }
      val schema = spark.read.parquet(inDir.toString).schema
      def drain(tag: String, maxFiles: Option[Int]): (Set[Long], Long, Double, String) = {
        val idx = s"$work/idx_$tag"; val out = s"$work/out_$tag"; val ck = s"$work/ck_$tag"
        Dedup.buildDedupIndex(seed, "doc_id", "text", idx)
        val t0 = System.nanoTime()
        val q = StreamingPipeline.dedupGateStream(
          StreamingPipeline.docStream(spark, inDir.toString, schema, maxFiles),
          idx, out, ck, threshold = 2.0)
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val admitted = spark.read.parquet(out)
        val perBatch = admitted.groupBy("batch").count()
          .orderBy("batch").collect()
          .map(r => s"b${r.get(0)}=${r.getLong(1)}").mkString(" ")
        val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
        val idxRows = spark.read.parquet(s"$idx/fps").count()
        println(f"PROBE-R19S $tag%-8s files=${parts.length}%2d wall=$wall%7.1fs " +
          f"admitted=${ids.size}%6d index_fps=$idxRows%6d batches: $perBatch")
        (ids, idxRows, wall, perBatch)
      }
      println(s"PROBE-R19S corpus=$sfDir n_seed=$nSeed n_backlog=$nBacklog")
      val (idsA, idxA, wallA, _) = drain("oneshot", None)
      val (idsB, idxB, wallB, _) = drain("bounded", Some(2))
      require(idsA == idsB,
        s"R19S TRIPWIRE: bounded-batch admitted set (${idsB.size}) != one-shot " +
          s"(${idsA.size}); symmetric diff ${(idsA diff idsB) ++ (idsB diff idsA)}")
      require(idxA == idxB,
        s"R19S TRIPWIRE: final index fps rows differ: oneshot=$idxA bounded=$idxB")
      println(f"PROBE-R19S EQUAL admitted=${idsA.size}%d index_fps=$idxA%d " +
        f"wall_oneshot=$wallA%.1fs wall_bounded=$wallB%.1fs " +
        f"overhead=${wallB / wallA}%.2fx")
    }

    // R17: the d2 weak-band (J < 0.5) LSH recall s-curve, measured against
    // the banding expectation E = Σ_pairs 1-(1-J^r)^b computed from the
    // exact-Jaccard truth — across band budgets and BOTH test scales. The
    // d2 gate's weak_not_lost floor is set from this: measured/expected
    // ratios near 1.0 mean xxhash64 behaves like the random-hash model and
    // HALF the expectation is a safe scale-adaptive floor (vs the old
    // fixed 0.02, which would pass at 1/50th of measured recall).
    if (want("r17")) {
      for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
        val docs = Tables.documents(spark, dir)
        val truth = Dedup.ngramJaccardPairs(docs.withColumn("blk", lit(0)),
          "doc_id", "text", "blk", 0.05).select("a", "b", "jaccard").localCheckpoint()
        for ((perms, bands) <- Seq((16, 8), (32, 16), (64, 32))) {
          val r = perms / bands
          val emitted = Dedup.minhashLsh(docs, "doc_id", "text", perms, bands, 0.05)
          val weak = truth.filter(col("jaccard") < 0.5)
          // coalesce OUTSIDE the sums too: over an EMPTY weak band the
          // no-groupBy agg returns one row with count 0 and NULL sums
          val st = weak.join(emitted.select(col("a"), col("b"), lit(1L).as("hit")),
              Seq("a", "b"), "left")
            .agg(count(lit(1)).as("n"),
              coalesce(sum(coalesce(col("hit"), lit(0L))), lit(0L)).as("hits"),
              coalesce(sum(lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), r), bands)),
                lit(0.0)).as("exp"))
            .collect()(0)
          val ratio = if (st.getDouble(2) > 0) st.getLong(1) / st.getDouble(2) else -1.0
          println(f"PROBE-R17 d2-weak $dir perms=$perms%3d bands=$bands%3d " +
            f"n_weak=${st.getLong(0)}%6d hits=${st.getLong(1)}%5d " +
            f"expected=${st.getDouble(2)}%8.2f ratio=$ratio%6.3f")
        }
        graft.operators.Checkpoints.drop(truth)
      }
    }
    spark.stop()
  }
}
