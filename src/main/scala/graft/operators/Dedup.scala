package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Deduplication operators for the training-data pipeline charter:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard. All distributed-first: the
  * only shuffles are keyed groupBys/joins on content hashes or LSH buckets —
  * never an unbucketed all-pairs cross join — so every variant survives a
  * 100 TB corpus (candidate generation is linear in rows, verification is
  * per-bucket).
  */
object Dedup {

  /** Exact dedup: keep the smallest id per key group (deterministic keeper,
    * unlike dropDuplicates whose survivor is partition-order dependent).
    */
  def exact(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))

  /** Exact content dedup via fingerprint (md5 of normalized text): hash-group
    * instead of grouping by the full text value so the shuffle key is 32
    * bytes, not the document body — the difference between feasible and not
    * at 100 TB.
    */
  def exactByFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fp", Text.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))

  /** Re-spread a frame whose scan produced fewer partitions than cores.
    * Text tokenization/shingling is CPU-bound, so partitioning must match
    * compute parallelism, not input bytes: a 100 TB corpus arrives in
    * thousands of splits, but a small dimension-sized file arrives in ONE —
    * and without this every downstream lambda runs single-threaded. The
    * shuffle moves only the raw rows once, before the row-multiplying work.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** (id, shingle array) with `toks` materialized in its own projection
    * first. NEVER inline `shingles3(tokens(text))` in one expression: the
    * lambda body references the token array many times (size, 3 element_at
    * per shingle) and higher-order functions get no common-subexpression
    * elimination, so the full tokenizer (lower+regex split+filter) re-runs
    * per shingle element — measured 25x slower than the two-projection form.
    * CollapseProject keeps the barrier because `toks` has multiple consumers.
    */
  private def shingleArrays(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), Text.tokens(col(textCol)).as("toks"))
      .select(col(idCol), Text.shingles3(col("toks")).as("sh"))

  /** Materialize an expensive subtree that the downstream DAG consumes more
    * than once. Spark has no cross-branch common-subexpression elimination:
    * the LSH pipelines reference the shingle sets from the signature branch
    * AND both sides of the verification join, so the tokenize→shingle lambda
    * chain would run 3x per query. The default (`localCheckpoint`) computes
    * it once and rereads the materialized partitions (freed when the RDD is
    * GC'd) — unlike `persist`, it does not register with the cache manager,
    * so repeated benchmark epochs can't silently hit a stale cross-query
    * cache. At cluster scale flip `spark.graft.materialize.mode=reliable`
    * ([[Materialize]]) to regain the executor-loss recompute path; an
    * explicit staging write (as `Pipeline.processBatch` does with the
    * flagged frame) plays the same role for cross-job hand-offs.
    */
  private def materialize(df: DataFrame): DataFrame = Materialize.frame(df)

  /** MinHash signature columns: minhash_p = min over shingles of
    * xxhash64(shingle, p). One explode + one groupBy — signature computation
    * is a single shuffle keyed by doc id with map-side partial min.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, numPerms: Int): DataFrame = {
    val sh = shingleArrays(df, idCol, textCol)
      .select(col(idCol), explode_outer(col("sh")).as("shingle"))
    val aggs = (0 until numPerms).map(p => min(xxhash64(col("shingle"), lit(p))).as(s"mh_$p"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash+LSH near-dup candidates: band the signature, bucket-join on
    * (band index, band hash), emit candidate pairs (a < b). Collision
    * probability for Jaccard s is 1-(1-s^rows)^bands.
    */
  def minhashLshCandidates(signatures: DataFrame, idCol: String,
                           numPerms: Int, bands: Int): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val rows = numPerms / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rows until (b + 1) * rows).map(p => col(s"mh_$p")): _*).as("sig"))
    }
    // materialized: both sides of the candidate self-join consume `banded`,
    // and Spark re-executes the (expensive) signature aggregation per side —
    // the r21 baseline plans show zero ReusedExchange across the self-joins
    val banded = Materialize.frame(signatures
      .select(col(idCol), explode(array(bandCols: _*)).as("bd"))
      .select(col(idCol), col("bd.band").as("band"), col("bd.sig").as("sig")))
    val l = banded.select(col("band"), col("sig"), col(idCol).as("a"))
    val r = banded.select(col("band"), col("sig"), col(idCol).as("b"))
    l.join(r, Seq("band", "sig")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Full MinHash-LSH near-dup pipeline with exact-Jaccard verification of
    * the candidates (verification joins token sets only for candidate pairs,
    * never all pairs).
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numPerms: Int = 32, bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    // One materialized shingle-set pass feeds signatures AND verification
    // (min over the distinct set equals min over the raw bag, so signatures
    // are unchanged by deriving them from `sets`).
    val sets = materialize(shingleArrays(df, idCol, textCol)
      .withColumn("sh", array_distinct(col("sh"))))
    val sh = sets.select(col(idCol), explode_outer(col("sh")).as("shingle"))
    val aggs = (0 until numPerms).map(p => min(xxhash64(col("shingle"), lit(p))).as(s"mh_$p"))
    val sigs = sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val cands = minhashLshCandidates(sigs, idCol, numPerms, bands)
    val verified = cands
      .join(sets.select(col(idCol).as("a"), col("sh").as("sh_a")), "a")
      .join(sets.select(col(idCol).as("b"), col("sh").as("sh_b")), "b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(
        col("n_common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast("double"), 4))
    verified.filter(col("jaccard") >= threshold).select("a", "b", "jaccard")
  }

  /** Portable MinHash+LSH: hashes are `md5(shingle:p)` HEX STRINGS and the
    * min is lexicographic, so an ANSI-SQL engine (the DuckDB oracle)
    * reproduces candidates and pairs bit-for-bit — this variant is the
    * correctness witness for the xxhash64 family above ([[minhashLsh]] stays
    * the scale path: 8-byte longs shuffle ~4x lighter than 32-char hex).
    */
  /** Distinct-shingle sets for the portable (md5) family, materialized once
    * per side (signature branch AND verify branch consume them).
    */
  private def portableSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    materialize(shingleArrays(df, idCol, textCol)
      .withColumn("sh", array_distinct(col("sh"))))

  /** Portable band signatures: (id, band, sig) with md5 min-hashes — the
    * LSH index one side contributes to a banded candidate join.
    */
  private def portableBandSigs(sets: DataFrame, idCol: String,
                               numPerms: Int, bands: Int): DataFrame = {
    val rows = numPerms / bands
    val sh = sets.select(col(idCol), explode(col("sh")).as("shingle"))
    val aggs = (0 until numPerms).map(p =>
      min(md5(concat(col("shingle"), lit(s":$p")))).as(s"mh_$p"))
    val sigs = sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (b * rows until (b + 1) * rows).map(p => col(s"mh_$p")): _*)).as("sig"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bd"))
      .select(col(idCol), col("bd.band").as("band"), col("bd.sig").as("sig"))
  }

  /** Verified Jaccard (round-4, the oracle's exact arithmetic) over an
    * (aCol, bCol) candidate frame, sets supplied per side.
    */
  private def jaccardVerified(cands: DataFrame, aSets: DataFrame, bSets: DataFrame,
                              idCol: String, aCol: String, bCol: String): DataFrame =
    cands
      .join(aSets.select(col(idCol).as(aCol), col("sh").as("sh_a")), aCol)
      .join(bSets.select(col(idCol).as(bCol), col("sh").as("sh_b")), bCol)
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(
        col("n_common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast("double"), 4))

  def minhashLshPortable(df: DataFrame, idCol: String, textCol: String,
                         numPerms: Int = 16, bands: Int = 8, threshold: Double = 0.05): DataFrame =
    minhashLshPortableFromSets(portableSets(df, idCol, textCol), idCol,
      numPerms, bands, threshold)

  /** [[minhashLshPortable]] over CALLER-SUPPLIED distinct-shingle sets — the
    * entry point for queries that share ONE tokenize pass of the corpus
    * between this LSH chain and other token consumers (c1/e2e1's quality
    * scorer tokenizes the same text; r22, guide §1.2 step 1). `sets` must be
    * one row per id with `sh = array_distinct(shingles3(tokens(text)))` —
    * exactly [[portableSets]]' frame — and should already be MATERIALIZED:
    * it is consumed by the signature branch and both verify-join sides, and
    * Spark has no cross-branch CSE (DedupSpec pins FromSets ≡ inline).
    */
  private[graft] def minhashLshPortableFromSets(sets: DataFrame, idCol: String,
                                                numPerms: Int, bands: Int,
                                                threshold: Double): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    // materialized: the candidate self-join consumes `banded` on BOTH sides
    // and each side re-ran the 16-way md5 min aggregation (no cross-branch
    // CSE, no exchange reuse in the r21 baseline plans) — one checkpoint
    // halves the sig computation for every portable-LSH lane
    val banded = Materialize.frame(portableBandSigs(sets, idCol, numPerms, bands))
    val cands = banded.select(col("band"), col("sig"), col(idCol).as("a"))
      .join(banded.select(col("band"), col("sig"), col(idCol).as("b")), Seq("band", "sig"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    jaccardVerified(cands, sets, sets, idCol, "a", "b")
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Incremental dedup gate — the daily-ingest shape at 100 TB: which NEW
    * docs survive against an EXISTING corpus? A delta doc is dropped when it
    * is an exact duplicate (normalized fingerprint, [[Text.fingerprint]]) or
    * a near-duplicate (banded MinHash candidates, Jaccard-verified at
    * `threshold`) of ANY corpus doc.
    *
    * Scale shape: the corpus contributes its linear signature/fingerprint
    * index ONCE (in production that index is persisted and this becomes pure
    * delta-side work); candidates come from delta-bands ⨝ corpus-bands only
    * — corpus docs never pair with each other, so per-batch cost scales with
    * |delta| and its collision volume, never |corpus|².
    */
  def incrementalSurvivors(corpus: DataFrame, delta: DataFrame, idCol: String,
                           textCol: String, numPerms: Int = 16, bands: Int = 8,
                           threshold: Double = 0.5): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val cSets = portableSets(corpus, idCol, textCol)
    val dSets = portableSets(delta, idCol, textCol)
    val cands = portableBandSigs(dSets, idCol, numPerms, bands)
      .select(col("band"), col("sig"), col(idCol).as("d"))
      .join(portableBandSigs(cSets, idCol, numPerms, bands)
        .select(col("band"), col("sig"), col(idCol).as("c")), Seq("band", "sig"))
      .select("d", "c").distinct()
    val nearDrop = jaccardVerified(cands, dSets, cSets, idCol, "d", "c")
      .filter(col("jaccard") >= threshold)
      .select(col("d").as(idCol)).distinct()
    val exactDrop = delta
      .withColumn("fp", Text.fingerprint(col(textCol)))
      .join(corpus.select(Text.fingerprint(col(textCol)).as("fp")).distinct(),
        Seq("fp"), "left_semi")
      .select(col(idCol))
    delta
      .join(nearDrop, Seq(idCol), "left_anti")
      .join(exactDrop, Seq(idCol), "left_anti")
  }

  // ---------- persisted dedup index (the production incremental form) ----------
  //
  // incrementalSurvivors recomputes the corpus index per call — right for a
  // one-shot backfill, wasteful for a daily/streaming gate. The persisted
  // form materializes the three linear indexes ONCE (shingle sets, band
  // signatures, fingerprints — all O(corpus) parquet) and each batch then
  // costs only delta-side work plus index lookups; accepted docs are
  // APPENDED so later batches dedup against everything admitted so far.

  /** Build (overwrite) the persisted index for a corpus. Also clears any
    * `_committed` batch markers from a previous streaming gate: a rebuilt
    * index with a FRESH stream checkpoint restarts batch ids at 0, and a
    * stale marker would make the new batch 0 silently skip its index
    * append ([[graft.streaming.StreamingPipeline.dedupGateBatch]] step 3).
    */
  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String, dir: String,
                      numPerms: Int = 16, bands: Int = 8): Unit = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val committed = new org.apache.hadoop.fs.Path(s"$dir/_committed")
    val fs = committed.getFileSystem(corpus.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(committed)) fs.delete(committed, true)
    val sets = portableSets(corpus, idCol, textCol)
    sets.write.mode("overwrite").parquet(s"$dir/sets")
    portableBandSigs(sets, idCol, numPerms, bands)
      .write.mode("overwrite").parquet(s"$dir/bands")
    corpus.select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))
      .write.mode("overwrite").parquet(s"$dir/fps")
  }

  /** Gate a delta against a persisted index; returns survivors (same
    * semantics as [[incrementalSurvivors]]). Does NOT mutate the index —
    * call [[appendToDedupIndex]] with the survivors to admit them.
    *
    * `excludeIds` (one id column named `idCol`) removes those ids from the
    * index's side of every lookup before gating. The streaming gate passes
    * the delta's own ids here: a replayed at-least-once batch whose docs a
    * crashed attempt already appended to the index must NOT be filtered out
    * by its own index entries — exclusion makes the replay recompute the
    * identical survivor set (restart idempotency, round-8 advice).
    */
  def incrementalSurvivorsIndexed(indexDir: String, delta: DataFrame, idCol: String,
                                  textCol: String, numPerms: Int = 16, bands: Int = 8,
                                  threshold: Double = 0.5,
                                  excludeIds: Option[DataFrame] = None): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val spark = delta.sparkSession
    def excl(index: DataFrame): DataFrame =
      excludeIds.fold(index)(ids => index.join(ids, Seq(idCol), "left_anti"))
    val cSets = excl(spark.read.parquet(s"$indexDir/sets"))
    val dSets = portableSets(delta, idCol, textCol)
    val cands = portableBandSigs(dSets, idCol, numPerms, bands)
      .select(col("band"), col("sig"), col(idCol).as("d"))
      .join(excl(spark.read.parquet(s"$indexDir/bands"))
        .select(col("band"), col("sig"), col(idCol).as("c")), Seq("band", "sig"))
      .select("d", "c").distinct()
    val nearDrop = jaccardVerified(cands, dSets, cSets, idCol, "d", "c")
      .filter(col("jaccard") >= threshold)
      .select(col("d").as(idCol)).distinct()
    val exactDrop = delta
      .withColumn("fp", Text.fingerprint(col(textCol)))
      .join(excl(spark.read.parquet(s"$indexDir/fps")).select("fp").distinct(),
        Seq("fp"), "left_semi")
      .select(col(idCol))
    delta
      .join(nearDrop, Seq(idCol), "left_anti")
      .join(exactDrop, Seq(idCol), "left_anti")
  }

  /** Compact the persisted dedup index in place: appends accumulate one
    * parquet file set per admitted batch, and the streaming gate's crash
    * window (append-then-marker) tolerates — but stores — duplicate rows.
    * Compaction rewrites each sub-index exactly DISTINCT into few files,
    * swapped in by [[graft.StateDir.swapIn]] (the index stays readable at
    * every crash point). Single-writer: serialize against gate batches.
    * Returns (rows before, rows after) per sub-index.
    */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String, numFiles: Int = 4): Map[String, (Long, Long)] =
    Seq("sets", "bands", "fps")
      .map(sub => sub -> compactDistinctDir(spark, dir, sub, numFiles)).toMap

  /** One sub-index distinct-rewrite, swapped in by
    * [[graft.StateDir.swapIn]] after its entry-time [[graft.StateDir.recover]]:
    * shared by [[compactDedupIndex]],
    * [[graft.operators.Similarity.compactSemanticIndex]] and the media index
    * compaction. Single-writer; the dir stays readable at every crash point.
    * Returns (rows before, rows after).
    *
    * `readPath` maps the live sub-dir to what spark.read should open (the
    * media index appends a trailing glob star so base + batch subdirs are
    * read as a union); `writeSub` nests the rewritten parquet inside the
    * swap target (the media index folds everything into `base/` so the
    * post-swap glob still matches). Defaults are the flat dedup/semantic
    * layout.
    */
  private[operators] def compactDistinctDir(spark: org.apache.spark.sql.SparkSession,
                                            dir: String, sub: String,
                                            numFiles: Int,
                                            readPath: String => String = identity,
                                            writeSub: String = ""): (Long, Long) = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    val d = new org.apache.hadoop.fs.Path(dir, sub).toString
    graft.StateDir.recover(spark, d)
    val cur = spark.read.parquet(readPath(d))
    val before = cur.count()
    val after = graft.StateDir.swapIn(spark, d) { tmp =>
      val target = if (writeSub.isEmpty) tmp else s"$tmp/$writeSub"
      cur.dropDuplicates().coalesce(numFiles).write.mode("overwrite").parquet(target)
      spark.read.parquet(target).count()
    }
    (before, after)
  }

  /** Admit accepted docs into the index (parquet appends — linear in the
    * accepted batch). Single-writer, like every sink in this engine.
    */
  def appendToDedupIndex(accepted: DataFrame, idCol: String, textCol: String,
                         dir: String, numPerms: Int = 16, bands: Int = 8): Unit = {
    val sets = portableSets(accepted, idCol, textCol)
    sets.write.mode("append").parquet(s"$dir/sets")
    portableBandSigs(sets, idCol, numPerms, bands)
      .write.mode("append").parquet(s"$dir/bands")
    accepted.select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))
      .write.mode("append").parquet(s"$dir/fps")
  }

  /** WITHIN-document duplicate-sentence removal — the boilerplate-cleanup
    * transform of the C4/Gopher lineage (t10 only SCORES repetition; this
    * rewrites the document): each doc keeps the FIRST occurrence of every
    * distinct sentence ([[graft.functions.Text.sentenceArray]] segments, so
    * the split arithmetic is t7's, mirrored in ANSI SQL), order preserved.
    * One posexplode + two map-side-combined aggregations — no window over
    * raw text, no shuffle wider than (doc, sentence).
    *
    * Output per doc (docs with ≥1 sentence): `n_sents` (before), `n_kept`
    * (after), `cleaned` (kept sentences rejoined with single spaces — the
    * queries hash it rather than carry full text through the compare).
    */
  def sentenceDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sents = df.select(col(idCol),
      posexplode(Text.sentenceArray(col(textCol))).as(Seq("pos", "sent")))
    sents.groupBy(col(idCol), col("sent"))
      .agg(min(col("pos")).as("pos"), count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_sents"),
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("sent")))),
          x => x.getField("sent"))).as("cleaned"))
  }

  /** CROSS-document sentence dedup — the CCNet/RefinedWeb line-dedup pass
    * ([[sentenceDedup]] removes repeats WITHIN a doc; this removes the
    * boilerplate repeated ACROSS docs — headers, footers, nav chrome —
    * which within-doc dedup cannot see): every distinct sentence is kept
    * only in its earliest-id document (at that doc's first occurrence of
    * it), dropped from every later doc; docs are rebuilt from their kept
    * sentences in original order. Rule is min(doc_id) per sentence — the
    * deterministic keep-smallest greedy the whole dedup family uses.
    *
    * Shuffle discipline: the keeper join keys on md5(sentence) (the e1b
    * fingerprint posture — raw sentence text is a carried value, never a
    * shuffle KEY), the keeper frame is one map-side-combined min
    * aggregate, and the rebuild is [[sentenceDedup]]'s two aggregations.
    * Cost is linear in total sentences; no all-pairs anywhere.
    *
    * Output per doc (docs with ≥1 sentence): `n_sents` (before), `n_kept`
    * (after — 0 for a doc that was pure boilerplate), `cleaned` (kept
    * sentences rejoined with single spaces).
    */
  def crossDocSentenceDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perDoc = df.select(col(idCol),
        posexplode(Text.sentenceArray(col(textCol))).as(Seq("pos", "sent")))
      .groupBy(col(idCol), col("sent"))
      .agg(min(col("pos")).as("pos"), count(lit(1)).as("cnt"))
      .withColumn("fp", md5(col("sent")))
    val keeper = perDoc.groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"))
    perDoc.join(keeper, "fp")
      .withColumn("kept", col(idCol) === col("keep_id"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_sents"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"), struct(col("pos"), col("sent"))))),
          x => x.getField("sent"))).as("cleaned"))
  }

  /** Duplicated-span statistics — the detection core of exact substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): for each document, how many of its
    * `window`-token sliding windows occur ≥2 times ANYWHERE in the corpus
    * (including elsewhere in the same doc). `dup_ratio` near 1 marks a doc
    * that is substantially verbatim-copied text — the population that
    * doc-level near-dup (d2/d3) misses when copied spans are embedded in
    * otherwise-fresh documents.
    *
    * Windows are md5-fingerprinted token slices (the e1b posture: the
    * 32-hex hash, not the text, is the shuffle key; both engines run the
    * identical fingerprint so the d11 oracle hash-checks every count).
    * Cost: one explode to ~n_tokens window rows per doc, one
    * map-side-combined (doc, window) count, one window-keyed global count,
    * one equi-join back — linear in corpus token count, no all-pairs.
    * Docs shorter than `window` tokens have no windows and emit no row.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   window: Int = 10): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val wins = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), Text.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= window)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("toks")) - window),
        i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(window)))))).as("wh"))
    // materialized: `global` re-aggregates perDoc and the join below reads
    // it again — without the barrier the corpus-sized window explode and
    // its first aggregation ran twice (no cross-branch CSE)
    val perDoc = materialize(wins.groupBy(col(idCol), col("wh"))
      .agg(count(lit(1)).as("k")))
    val global = perDoc.groupBy(col("wh")).agg(sum(col("k")).as("c"))
    perDoc.join(global, "wh")
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_windows"),
        sum(when(col("c") >= 2, col("k")).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio", round(
        col("n_dup").cast("double") / col("n_windows").cast("double"), 4))
  }

  /** [[dupSpanStats]]'s CLEANING step (Lee et al. 2021, arXiv:2107.06499 —
    * d11 detects, this REMOVES): every `window`-token span occurring ≥ 2
    * times anywhere in the corpus keeps its FIRST occurrence (minimum
    * (doc, position) in corpus order) and is cut from every other; the
    * output is each document's cleaned token stream plus the before/after
    * accounting. Removal happens in TOKEN space (the cleaned text is the
    * lowercased token stream rejoined with single spaces, not the original
    * bytes) — the representation every downstream token-level stage reads
    * anyway, and the one both engines can rebuild bit-identically.
    *
    * Shape: window hashes explode linearly in corpus tokens (the d11
    * explode), the canonical pick is MIN(struct(doc, pos)) inside the
    * per-hash aggregate — an aggregate, not a per-hash window — removal
    * intervals explode to (doc, position) rows bounded by
    * window x duplicated-occurrences, the cut is one anti-join on
    * (doc, position), and the per-doc rebuild is a bounded
    * sort_array/collect_list fold (state = doc length, the sentenceDedup
    * discipline). No all-pairs anywhere; overlapping spans union through
    * the distinct position set.
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 10): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = spanToks(df, idCol, textCol)
    removeDupSpansFromWins(toks, spanWins(toks, idCol, window), idCol, window)
  }

  /** [[removeDupSpans]] over PRECOMPUTED (materialized) [[spanToks]] /
    * [[spanWins]] frames — the entry point for a caller that also builds
    * the span index from the SAME corpus slice (d12b), so the tokenize +
    * window explode run once instead of once per consumer (r21, guide
    * §1.2 step 1).
    */
  private[graft] def removeDupSpansFromWins(toks: DataFrame, wins: DataFrame,
                                            idCol: String, window: Int): DataFrame = {
    val dups = wins.groupBy(col("wh"))
      .agg(count(lit(1)).as("c"),
        min(struct(col(idCol).as("id"), col("p").as("p"))).as("canon"))
      .filter(col("c") >= 2)
      .select("wh", "canon")
    val cutStarts = wins.join(dups, "wh")
      .filter(!(col(idCol) === col("canon.id") && col("p") === col("canon.p")))
      .select(col(idCol), col("p"))
    cutSpansAndRebuild(toks, idCol, cutStarts, window)
  }

  /** Tokenized frame `(id, toks)` shared by the whole-corpus and
    * incremental span-removal forms. Materialized: it feeds the window
    // explode AND the rebuild/accounting branches, and Spark has no
    // cross-branch CSE.
    */
  private def spanToks(df: DataFrame, idCol: String, textCol: String): DataFrame =
    materialize(spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), Text.tokens(col(textCol)).as("toks")))

  /** The d11/d12 window-hash explode over a [[spanToks]] frame:
    * `(id, p, wh)`, one row per `window`-token span, 1-based positions.
    * Materialized — the canonical-pick aggregate and the removal join both
    * consume it (without the barrier the corpus-sized explode runs twice,
    * a round-15 review finding).
    */
  private def spanWins(toks: DataFrame, idCol: String, window: Int): DataFrame =
    materialize(toks.filter(size(col("toks")) >= window)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("toks")) - window + 1),
        i => struct(i.as("p"),
          md5(concat_ws(" ", slice(col("toks"), i, lit(window)))).as("wh")))).as("w"))
      .select(col(idCol), col("w.p").as("p"), col("w.wh").as("wh")))

  /** The shared span-removal tail: explode each cut start into its
    * `window` positions, anti-join them out of the token stream, rebuild
    * each doc's cleaned text in position order, and emit the d12
    * accounting shape `(id, n_before, n_after, n_removed, cleaned)`.
    * Overlapping spans union through the distinct position set; the
    * rebuild is a bounded sort_array/collect_list fold (state = doc
    * length, the sentenceDedup discipline).
    */
  private def cutSpansAndRebuild(toks: DataFrame, idCol: String,
                                 cutStarts: DataFrame, window: Int): DataFrame = {
    val tokPos = toks
      .select(col(idCol), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col(idCol), (col("p0") + 1).as("p"), col("tok"))
    val removed = cutStarts
      .select(col(idCol), explode(sequence(col("p"), col("p") + (window - 1))).as("p"))
      .distinct()
    val rebuilt = tokPos.join(removed, Seq(idCol, "p"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_after"),
        array_join(transform(
          sort_array(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok")), " ").as("cleaned"))
    toks.select(col(idCol), size(col("toks")).cast("long").as("n_before"))
      .join(rebuilt, Seq(idCol), "left")
      .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
      .withColumn("n_removed", col("n_before") - col("n_after"))
      .withColumn("cleaned", coalesce(col("cleaned"), lit("")))
      .select(idCol, "n_before", "n_after", "n_removed", "cleaned")
  }

  /** The span-hash INDEX of a corpus: one row per distinct window hash,
    * carrying its canonical (first) occurrence `(wh, id, p)` — what
    * [[removeDupSpansIncremental]] probes and [[appendToSpanIndex]] grows.
    * Linear in corpus tokens; the per-hash aggregate is the same
    * MIN(struct) canonical pick as the whole-corpus form.
    */
  def spanIndexFrame(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 10): DataFrame =
    spanIndexFromWins(spanWins(spanToks(df, idCol, textCol), idCol, window), idCol)

  /** [[spanIndexFrame]] over a precomputed [[spanWins]] frame (see
    * [[removeDupSpansFromWins]]).
    */
  private[graft] def spanIndexFromWins(wins: DataFrame, idCol: String): DataFrame =
    wins.groupBy(col("wh"))
      .agg(min(struct(col(idCol).as("id"), col("p").as("p"))).as("canon"))
      .select(col("wh"), col("canon.id").as(idCol), col("canon.p").as("p"))

  /** The materialized (toks, wins) pair for one corpus slice — what the
    * from-wins entry points consume.
    */
  private[graft] def spanPrepared(df: DataFrame, idCol: String, textCol: String,
                                  window: Int): (DataFrame, DataFrame) = {
    val toks = spanToks(df, idCol, textCol)
    (toks, spanWins(toks, idCol, window))
  }

  /** [[removeDupSpans]]'s DAILY-INGEST form (the d8/d6b/d9b discipline —
    * closes the r15 verdict's missing item 3): clean a DELTA against a
    * span-hash index instead of re-scanning the corpus. A delta span whose
    * hash exists in the index is cut (its canonical lives in an earlier
    * batch); spans NEW to the index keep their first-in-delta occurrence
    * and cut the rest. Cost per batch: the delta's window explode + one
    * hash-equi-join against the index — |delta| + |index| work, never
    * corpus re-tokenization.
    *
    * EQUIVALENCE contract (DedupSpec pins it, and the d12b lane
    * hash-checks it against the whole-corpus oracle): when batches arrive
    * in (id) order, chaining removeDupSpansIncremental + appendToSpanIndex
    * over the batches produces EXACTLY [[removeDupSpans]]'s whole-corpus
    * output — the global canonical MIN(id, p) of any hash lies in the
    * earliest batch containing it. Out-of-order ingest degrades gracefully
    * to FIRST-ARRIVAL canonicality (the streaming semantics Lee et al.'s
    * suffix-array batch form cannot offer at all).
    *
    * `excludeIds`: remove those ids from the index side before probing —
    * the streaming replay contract (round-8 advice, d8's parameter): a
    * replayed at-least-once batch whose spans a crashed attempt already
    * appended must not be cut by its own index entries.
    */
  def removeDupSpansIncremental(index: DataFrame, delta: DataFrame, idCol: String,
                                textCol: String, window: Int = 10,
                                excludeIds: Option[DataFrame] = None): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = spanToks(delta, idCol, textCol)
    val wins = spanWins(toks, idCol, window)
    val idxHashes = excludeIds.fold(index)(ids => index.join(ids, Seq(idCol), "left_anti"))
      .select(col("wh")).distinct()
    val cutOld = wins.join(idxHashes, Seq("wh"), "left_semi")
      .select(col(idCol), col("p"))
    val newWins = wins.join(idxHashes, Seq("wh"), "left_anti")
    val dupsNew = newWins.groupBy(col("wh"))
      .agg(count(lit(1)).as("c"),
        min(struct(col(idCol).as("id"), col("p").as("p"))).as("canon"))
      .filter(col("c") >= 2)
      .select("wh", "canon")
    val cutNew = newWins.join(dupsNew, "wh")
      .filter(!(col(idCol) === col("canon.id") && col("p") === col("canon.p")))
      .select(col(idCol), col("p"))
    cutSpansAndRebuild(toks, idCol, cutOld.union(cutNew), window)
  }

  /** Build (overwrite) the persisted span-hash index for a corpus. */
  def buildSpanIndex(corpus: DataFrame, idCol: String, textCol: String,
                     dir: String, window: Int = 10): Unit =
    spanIndexFrame(corpus, idCol, textCol, window)
      .write.mode("overwrite").parquet(dir)

  /** Append a processed delta's span hashes to the persisted index (the
    * appendToDedupIndex discipline: unconditional append of the DELTA's
    * per-hash canonical rows — no read-modify-write of the index files, so
    * a crash mid-append leaves duplicate-hash rows at worst, which the
    * probe's hash-existence semantics ignore; first-arrival rows stay
    * canonical because [[removeDupSpansIncremental]] only reads hash
    * EXISTENCE across batches).
    */
  def appendToSpanIndex(delta: DataFrame, idCol: String, textCol: String,
                        dir: String, window: Int = 10): Unit =
    spanIndexFrame(delta, idCol, textCol, window)
      .write.mode("append").parquet(dir)

  /** [[removeDupSpansIncremental]] over a persisted index directory. */
  def removeDupSpansIncrementalIndexed(indexDir: String, delta: DataFrame,
                                       idCol: String, textCol: String,
                                       window: Int = 10,
                                       excludeIds: Option[DataFrame] = None): DataFrame =
    removeDupSpansIncremental(delta.sparkSession.read.parquet(indexDir),
      delta, idCol, textCol, window, excludeIds)

  /** SimHash signature of `bits` width (≤ 64): per token-hash bit, sum +1/-1
    * votes; bit set when the vote is positive. Computed with one explode +
    * one groupBy. Bits come from xxhash64(token), so 64-bit signatures cost
    * the same hash work as 32-bit — only the vote-aggregate width changes.
    */
  def simhashSig(df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    val tok = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode_outer(Text.tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums: Seq[org.apache.spark.sql.Column] = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"bit_$j")
    }
    val voted = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    // 1L << 63 is Long.MinValue — correct here: it is just bit 63 of the
    // packed signature, and downstream banding masks after the shift
    val sig = (0 until bits).map { j =>
      when(col(s"bit_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    voted.select(col(idCol), sig.as("simhash"))
  }

  /** 32-bit SimHash, kept for callers that want shorter signatures. Pairs
    * generation should use the 64-bit form: at corpus scale the band-key
    * space of a 32-bit/maxDist=3 layout is a CONSTANT 256 buckets, making
    * candidate volume quadratic in corpus size.
    */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSig(df, idCol, textCol, 32)

  /** 64-bit SimHash — the near-dup signature of Manku et al.'s web-scale
    * dedup: with maxDist=3 the pigeonhole bands are 16 bits wide, so the
    * per-band key space is 2^16 ≈ 65k and expected bucket population grows
    * as N/65k instead of N/256 — the difference between linear and
    * quadratic candidate volume at 100 TB.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSig(df, idCol, textCol, 64)

  /** Pigeonhole near-dup pairs from a precomputed signature frame: all
    * (a < b) with Hamming distance ≤ `maxDist`. The signature splits into
    * `maxDist + 1` disjoint bands, and any pair within distance `maxDist`
    * must agree exactly on at least one band (fewer flipped bits than
    * bands), so candidates come from an equi-join on (band index, band
    * bits), never an all-pairs scan — candidate volume is bounded by
    * band-bucket collisions, verification is one xor+popcount per
    * candidate. Exposed separately from the text form so the banding
    * completeness property (pairs found = brute-force Hamming ≤ k pairs) is
    * testable on arbitrary seeded signatures.
    *
    * `sigBits` must be a multiple of maxDist+1 (equal-width bands).
    */
  def simhashPairsFromSigs(sigs: DataFrame, idCol: String, sigCol: String,
                           maxDist: Int, sigBits: Int = 64): DataFrame = {
    val banded = bandedSigs(sigs, idCol, sigCol, maxDist, sigBits)
    banded.select(col("band"), col("key"), col(idCol).as("a"), col("__sig").as("sig_a"))
      .join(banded.select(col("band"), col("key"), col(idCol).as("b"), col("__sig").as("sig_b")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxDist)
      .select("a", "b", "hamming")
  }

  /** [[simhashPairsFromSigs]]'s DELTA × CORPUS form — the incremental-gate
    * shape (d8's delta-bands × corpus-bands discipline applied to raw
    * signatures): all (delta id `a`, corpus id `b`) with Hamming ≤
    * `maxDist`, candidates from the pigeonhole band equi-join between the
    * two frames only — per-batch cost never touches corpus × corpus. Ids
    * may overlap across frames (a replayed batch gating against an index
    * that already contains its own rows); the caller excludes them
    * upstream, so no a < b cut is applied here.
    */
  def simhashCrossPairs(delta: DataFrame, corpus: DataFrame, idCol: String,
                        sigCol: String, maxDist: Int, sigBits: Int = 64): DataFrame = {
    def side(df: DataFrame, asId: String, asSig: String) =
      bandedSigs(df, idCol, sigCol, maxDist, sigBits)
        .select(col(idCol).as(asId), col("__sig").as(asSig), col("band"), col("key"))
    side(delta, "a", "sig_a")
      .join(side(corpus, "b", "sig_b"), Seq("band", "key"))
      .select("a", "b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxDist)
      .select("a", "b", "hamming")
  }

  /** ONE statement of the pigeonhole band projection shared by
    * [[simhashPairsFromSigs]] and [[simhashCrossPairs]] (the
    * portableBandSigs discipline): (id, __sig, band, key) with
    * `maxDist + 1` equal-width bands — two copies of the shift/mask
    * arithmetic could drift independently and silently break banding
    * completeness in whichever caller the spec doesn't cover.
    */
  private def bandedSigs(sigs: DataFrame, idCol: String, sigCol: String,
                         maxDist: Int, sigBits: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val bands = maxDist + 1
    require(sigBits >= 1 && sigBits <= 64, s"sigBits must be in [1, 64], got $sigBits")
    require(sigBits % bands == 0, s"maxDist+1 must divide sigBits=$sigBits, got $bands")
    val width = sigBits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandCols = (0 until bands).map { b =>
      // shiftright is arithmetic (sign-extends past bit 63); the mask keeps
      // exactly `width` bits, so the top band's key is still correct
      struct(lit(b).as("band"),
        shiftright(col(sigCol), b * width).bitwiseAND(lit(mask)).as("key"))
    }
    sigs.select(col(idCol), col(sigCol).as("__sig"),
        explode(array(bandCols: _*)).as("bd"))
      .select(col(idCol), col("__sig"), col("bd.band").as("band"), col("bd.key").as("key"))
  }

  /** SimHash near-duplicate pairs over text: 64-bit signatures (16-bit
    * bands at the default maxDist=3 — see [[simhash64]] for the scale
    * argument) fed through pigeonhole banding.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxDist: Int = 3): DataFrame = {
    // tiny frame (one row per doc) consumed by both self-join sides
    val sigs = Materialize.frame(simhash64(df, idCol, textCol))
    simhashPairsFromSigs(sigs, idCol, "simhash", maxDist, 64)
  }

  /** Portable SimHash signatures — the simhash family's correctness witness
    * (the [[minhashLshPortable]] discipline): bit j of the per-token hash is
    * bit (j mod 4) of hex digit (j div 4) of `md5(token)`, pure hex-string
    * arithmetic an ANSI engine reproduces digit for digit, and the 32-bit
    * signature packs into [0, 2^32) so the oracle's plain BIGINT sums agree
    * exactly. The SCALE path stays [[simhash64]] (xxhash64 longs, 2^16 band
    * keys); this twin exists so banding + xor/popcount verification are
    * oracle-checked end to end. Tokenless docs are dropped (inner explode,
    * matching SQL `unnest`) — they can contribute no meaningful signature.
    */
  def simhashPortableSigs(df: DataFrame, idCol: String, textCol: String,
                          bits: Int = 32): DataFrame = {
    // bit j reads hex digit j/4 of the 32-digit md5, so 64 bits consumes the
    // first 16 digits; 128 would exhaust the digest and 64 is the widest
    // BIGINT pack both engines share (bit 63 lands on the sign — two's
    // complement addition of the CASE terms is overflow-free in either
    // engine because the positive partial sums stay below 2^63).
    require(bits == 32 || bits == 64, s"bits must be 32 or 64, got $bits")
    val tok = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("tok"))
      .withColumn("hx", md5(col("tok")))
    val bitSums: Seq[org.apache.spark.sql.Column] = (0 until bits).map { j =>
      val nibble = conv(substring(col("hx"), j / 4 + 1, 1), 16, 10).cast("int")
      sum(when(shiftright(nibble, j % 4).bitwiseAND(lit(1)) === 1, 1).otherwise(-1))
        .as(s"bit_$j")
    }
    val voted = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"bit_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    voted.select(col(idCol), sig.as("simhash"))
  }

  /** Near-dup pairs over the portable 32-bit signatures ([[simhashPortableSigs]]):
    * the same pigeonhole banding + Hamming verify as the 64-bit scale path,
    * 8-bit bands at the default maxDist=3. Witness only — 256 band keys is
    * a constant bucket space, quadratic at corpus scale (see [[simhash32]]).
    */
  def simhashPortableNearDup(df: DataFrame, idCol: String, textCol: String,
                             maxDist: Int = 3): DataFrame = {
    val sigs = Materialize.frame(simhashPortableSigs(df, idCol, textCol))
    simhashPairsFromSigs(sigs, idCol, "simhash", maxDist, 32)
  }

  /** The portable witness at the PRODUCTION band width: 64-bit md5-nibble
    * signatures through the same pigeonhole banding as the scale path
    * [[simhashNearDupPairs]] — 16-bit bands at the default maxDist=3, the
    * exact 2^16-key layout d3b runs — so the production banding arithmetic
    * (not just its 32-bit twin) is oracle-checked digit for digit.
    */
  def simhashPortableNearDup64(df: DataFrame, idCol: String, textCol: String,
                               maxDist: Int = 3): DataFrame = {
    val sigs = Materialize.frame(simhashPortableSigs(df, idCol, textCol, bits = 64))
    simhashPairsFromSigs(sigs, idCol, "simhash", maxDist, 64)
  }

  /** PRODUCTION edit-distance near-dup (the d5b lane): MinHash-banded
    * candidates — volume tracks true band collisions, near-linear in N by
    * the §6.1 growth probes — verified by the bounded banded-DP
    * levenshtein ([[editDistanceVerify]]). This composed form is the
    * documented default at corpus scale; [[editDistanceNearDup]]'s raw
    * length-band blocking is the building block it supersedes (fixed band
    * count ⇒ quadratic candidates, measured ×4.0 per corpus doubling).
    * `portable = true` swaps the xxhash64 band family for the md5 witness
    * ([[minhashLshPortable]]) so the candidate frame reproduces in ANSI SQL
    * — the d5b oracle's exact blocking; default stays the xxhash64 scale
    * path (8-byte band keys shuffle ~4× lighter than 32-char hex).
    * Output: (a, b, dist) with dist ≤ maxDist.
    */
  def editDistanceNearDupBlocked(df: DataFrame, idCol: String, textCol: String,
                                 maxDist: Int, numPerms: Int = 16, bands: Int = 8,
                                 candThreshold: Double = 0.05,
                                 portable: Boolean = false): DataFrame = {
    val cands =
      if (portable) minhashLshPortable(df, idCol, textCol, numPerms, bands, candThreshold)
      else minhashLsh(df, idCol, textCol, numPerms, bands, candThreshold)
    editDistanceVerify(cands, df, idCol, textCol, "a", "b", maxDist)
  }

  /** Edit-distance near-duplicate pairs within a blocking key — the raw
    * length-band BUILDING BLOCK, not the production default: the band count
    * is fixed by (length range / window), not by N, so candidate volume is
    * quadratic with a small constant (§6.1: measured ×4.0 per corpus
    * doubling, ~1.7% of all-pairs at N=5000). At corpus scale use
    * [[editDistanceNearDupBlocked]] (corpus-scaled MinHash blocking, same
    * bounded-DP verify) or pass a finer caller-chosen `blockCol`. Candidates
    * come from a two-bucket length-band equi-join — every doc lands in
    * length buckets floor(len/W) and floor(len/W)+1, so any pair with
    * |len_a − len_b| ≤ W shares at least one (block, bucket) key — never an
    * all-pairs scan. Verification is a THRESHOLD-BOUNDED levenshtein
    * (banded O(maxDist·len) DP instead of the full O(len²) table), computed
    * only after candidate (a,b) ids are deduped, so document text crosses
    * the shuffle exactly once per side of the verify join.
    *
    * Contract: a pair is reported iff |len_a − len_b| ≤ lenWindow AND
    * dist ≤ maxDist. Since dist ≥ |len_a − len_b| always, the result is
    * complete for dist ≤ maxDist whenever lenWindow ≥ maxDist; a smaller
    * window (as in the registered query) is the deliberate cheap gate that
    * also caps candidate volume — part of the operator's semantics, mirrored
    * verbatim by the oracle.
    */
  def editDistanceNearDup(df: DataFrame, idCol: String, textCol: String,
                          blockCol: String, lenWindow: Int, maxDist: Int): DataFrame = {
    // lenWindow = 0 would make floor(len/lenWindow) null (or an ANSI divide
    // error) and silently emit zero pairs — fail fast like sibling operators
    require(lenWindow > 0, s"lenWindow must be positive, got $lenWindow")
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val base = materialize(
      spread(df.select(col(blockCol).as("blk"), col(idCol), col(textCol).as("txt")))
        .withColumn("len", length(col("txt")))
        .withColumn("bk", floor(col("len") / lenWindow)))
    // candidates on (blk, bucket, id, len) only — text stays out of this join
    val emitted = base
      .select(col("blk"), explode(array(col("bk"), col("bk") + 1)).as("bk"),
        col(idCol), col("len"))
    val cands = emitted.select(col("blk"), col("bk"), col(idCol).as("a"), col("len").as("la"))
      .join(emitted.select(col("blk"), col("bk"), col(idCol).as("b"), col("len").as("lb")),
        Seq("blk", "bk"))
      .filter(col("a") < col("b") && abs(col("la") - col("lb")) <= lenWindow)
      .select("blk", "a", "b").distinct()
    val texts = base.select(col(idCol), col("txt"))
    // The DP projection is materialized BEFORE the sentinel filter: predicate
    // pushdown alias-substitutes `dist` into the join condition otherwise,
    // evaluating the DP up to 3x per candidate (measured in the plan — same
    // family as the generator double-eval in SURVEY/memory). The scored
    // frame is (blk, a, b, dist) — tiny — so the barrier costs nothing.
    val scored = materialize(cands
      .join(texts.select(col(idCol).as("a"), col("txt").as("ta")), "a")
      .join(texts.select(col(idCol).as("b"), col("txt").as("tb")), "b")
      .select(col("blk"), col("a"), col("b"),
        Text.levBounded(col("ta"), col("tb"), maxDist).as("dist")))
    scored.filter(col("dist").between(0, maxDist)) // bounded form returns -1 above maxDist
  }

  /** Bounded edit-distance verification of an ARBITRARY candidate pair set:
    * the composable scale path that SURVEY §6.1's growth measurements call
    * for — length-band blocking alone admits a quadratic candidate count
    * (fixed band count), so at corpus scale feed this verifier candidates
    * from a corpus-scaled blocker instead (MinHash bands, the shingle
    * inverted index) and keep the banded-DP verify cost per candidate.
    * `pairs` carries (aCol, bCol) id pairs; texts join in once per side,
    * and the DP projection is materialized before the sentinel filter for
    * the same single-eval reason as [[editDistanceNearDup]].
    *
    * Drop semantics: the text lookups are INNER joins, so a candidate pair
    * whose id is absent from `docs` silently disappears from the output —
    * an upstream id-space mismatch (wrong idCol, stale pair set) therefore
    * reads as "no near-dups". Pass `strict = true` to fail fast instead:
    * it counts candidate ids with no matching doc and throws if any exist
    * (one extra aggregate over the id-only frames; skipped when false, so
    * the default path costs nothing).
    * Output: (a, b, dist) for pairs with dist ≤ maxDist.
    */
  def editDistanceVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                         textCol: String, aCol: String, bCol: String,
                         maxDist: Int, strict: Boolean = false): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val texts = spread(docs.select(col(idCol), col(textCol).as("txt")))
    val dedupPairs = pairs.select(col(aCol).as("a"), col(bCol).as("b")).distinct()
    if (strict) {
      val ids = dedupPairs.select(col("a").as("id"))
        .union(dedupPairs.select(col("b").as("id"))).distinct()
      val missing = ids.join(texts.select(col(idCol).as("id")), Seq("id"), "left_anti").count()
      require(missing == 0,
        s"editDistanceVerify: $missing candidate id(s) have no matching '$idCol' in docs " +
          "— id-space mismatch between the candidate pairs and the corpus")
    }
    val scored = materialize(dedupPairs
      .join(texts.select(col(idCol).as("a"), col("txt").as("ta")), "a")
      .join(texts.select(col(idCol).as("b"), col("txt").as("tb")), "b")
      .select(col("a"), col("b"),
        Text.levBounded(col("ta"), col("tb"), maxDist).as("dist")))
    scored.filter(col("dist").between(0, maxDist)) // bounded form returns -1 above maxDist
  }

  /** Connected components over an undirected pair graph (the canonical-doc
    * selection step of a near-dup pipeline: cluster the pair graph, keep one
    * doc per component). Alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round re-points high neighbors at their neighborhood
    * minimum (large-star) then collapses every node's smaller neighbors
    * onto the local minimum (small-star), converging to one star per
    * component centered at the component's minimum id in O(log n) rounds
    * REGARDLESS of graph diameter. The previous min-label propagation
    * needed O(diameter) rounds, so a path-shaped dup chain (templated
    * boilerplate with drifting headers produces exactly this) of diameter
    * > maxIter turned into a hard job failure at scale — round count, not
    * per-round cost, was the one open axis of this operator family
    * (round-14 verdict item 1). DedupSpec pins a diameter-60 path
    * converging far under the default maxIter.
    *
    * Each half-round is one groupBy-min plus one salted equi-join over the
    * current edge set; edges stay canonically oriented (hi, lo) and
    * distinct, so per-round shuffle volume is O(|E|) and only SHRINKS as
    * components contract. Convergence is exact edge-set equality between
    * rounds (count + anti-join — type-agnostic, so string doc ids work).
    * Output: (id, comp) for every node that appears in `pairs`, where comp
    * is the component's minimum id.
    *
    * Skew hardening: real near-dup graphs have hubs (a boilerplate template
    * shared by 10^6 docs is one node carrying 10^6 edges), and the
    * per-round `neighbors JOIN per-node-min` equi-join would land a hub's
    * entire edge list on one reducer EVERY round — the straggler repeats
    * O(log n) times. The join is therefore salted ([[Skew.saltedJoin]]):
    * each edge gets a deterministic salt from its far endpoint, the
    * (one-row-per-node) min side is replicated `saltBuckets` times, and a
    * hub's edges spread across `saltBuckets` reducers — the per-task bound
    * drops from max-degree to max-degree/saltBuckets while the result
    * stays exactly the plain join's. The groupBy-min stages are already
    * skew-free (partial aggregation combines a hub's edges map-side).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25, saltBuckets: Int = 16): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter, saltBuckets)._1

  /** Incremental [[connectedComponents]] — the d8 daily-ingest discipline
    * for the dedup GRAPH: fold a delta edge batch into existing labels
    * without re-running CC over the historical edge set. Each existing
    * component contracts to its label super-node (comp = min member id, so
    * the super-node IS the canonical label), delta endpoints map through
    * the old labels, and CC runs only on the contracted delta graph —
    * per-batch cost scales with |delta| + touched components, never with
    * history.
    *
    * Labels match batch CC over (old edges ∪ delta) EXACTLY: contraction
    * preserves connectivity (each old component is connected by
    * construction), and because old labels are component minima, the
    * contracted run's minima are the true global minima. DedupSpec pins
    * the equivalence property; the d6b oracle hash-checks it against the
    * full-graph recursive CTE.
    *
    * @param oldLabels (id, comp) as produced by [[connectedComponents]] —
    *                  comp MUST be the component-minimum id (this
    *                  function's own output satisfies that, so batches
    *                  chain).
    * @param delta     new pair rows; endpoints may be old ids, new ids, or
    *                  a mix.
    * @return (id, comp) over old ids ∪ delta endpoint ids.
    */
  def connectedComponentsIncremental(oldLabels: DataFrame, delta: DataFrame,
                                     aCol: String, bCol: String,
                                     maxIter: Int = 25,
                                     saltBuckets: Int = 16): DataFrame = {
    // consumed by two endpoint joins + the relabel join + the anti-join
    val old = Materialize.frame(oldLabels.select(col("id"), col("comp")))
    val contracted = delta.select(col(aCol).as("a"), col(bCol).as("b"))
      .join(old.select(col("id").as("a"), col("comp").as("ca")), Seq("a"), "left")
      .join(old.select(col("id").as("b"), col("comp").as("cb")), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
        coalesce(col("cb"), col("b")).as("b"))
    // super-node labels over the delta-touched subgraph only
    val sub = Materialize.frame(
      connectedComponents(contracted, "a", "b", maxIter, saltBuckets))
    // old ids: re-label through their component's super-node if it was
    // touched, keep the old comp otherwise
    val touched = sub.select(col("id").as("comp"), col("comp").as("new_comp"))
    val oldUpdated = old.join(touched, Seq("comp"), "left")
      .select(col("id"), coalesce(col("new_comp"), col("comp")).as("comp"))
    // genuinely-new ids (delta endpoints unseen before): labeled directly.
    // Old comp labels are real old ids, so the anti-join keeps them out.
    val newIds = sub.join(old.select(col("id")), Seq("id"), "left_anti")
    oldUpdated.union(newIds)
  }

  /** [[connectedComponents]] plus the number of alternating rounds it took —
    * the observable ScaleProbe reads to back the O(log n) round-count claim
    * with measurements instead of citation.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, saltBuckets: Int = 16): (DataFrame, Int) = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    // `pairs` is typically the caller's most expensive subtree (a full LSH
    // band join + Jaccard verify in d6/c1/sl2/e2e1). nodes and edges used to
    // be two SEPARATE eager checkpoints, each re-executing that subtree
    // (plus the final label join reading nodes again) — materialize the two
    // endpoint columns ONCE and derive both frames from the materialized
    // rows instead (r21 guide §2.4: don't compute the same thing twice).
    val p = Materialize.frame(pairs.select(col(aCol).as("a"), col(bCol).as("b")))
    // every node that appears in `pairs` gets a label, including a node
    // whose only pair is a self-pair (no connectivity — labeled itself).
    // NOT checkpointed (r22): the final label join is its ONLY consumer, so
    // the eager materialization was a pure extra construction job — the
    // distinct now runs inside the final job, reading the materialized `p`.
    val nodes = p.select(col("a").as("id"))
      .union(p.select(col("b").as("id")))
      .distinct()
    // canonical (hi, lo) directed edges; self-loops carry no connectivity
    // per-round class: superseded after round 1, so it stays localCheckpoint
    // at every deployment mode (the [[Materialize]] per-round rationale)
    var edges = p
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()

    // large-star: per node u over BOTH edge orientations, m = min(Γ(u) ∪
    // {u}); emit (v, m) for every neighbor v > u. Strictly-larger neighbors
    // re-point at the local minimum — the pointer-doubling step that cuts
    // long chains logarithmically.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      Skew.saltedJoin(nbrs, mins, keys = Seq("u"), saltFrom = col("v"),
          buckets = saltBuckets)
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: per node u over its SMALLER neighbors N (edges oriented
    // hi→lo, so N = all of u's edge targets), m = min(N); emit (v, m) for
    // v ∈ N ∪ {u}, v ≠ m — collapses each neighborhood onto its minimum.
    // Both emissions come out of the ONE salted join (each joined row
    // (u, v, m) explodes to (v, m) and (u, m); distinct dedupes the
    // per-neighbor repeats of (u, m)) so the per-node min aggregate is
    // computed exactly once per round.
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = or.groupBy("u").agg(min(col("v")).as("m"))
      Skew.saltedJoin(or, mins, keys = Seq("u"), saltFrom = col("v"),
          buckets = saltBuckets)
        .select(explode(array(
          struct(col("v").as("c"), col("m")),
          struct(col("u").as("c"), col("m")))).as("x"))
        .select(col("x.c").as("u"), col("x.m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // Materialize a round's frame AND reset its estimated statistics.
    // localCheckpoint alone carries the producing plan's sizeInBytes into
    // the checkpointed relation, and a loop of joins then compounds the
    // estimate MULTIPLICATIVELY round over round — by ~12 rounds the BigInt
    // has ~10^8 bits and Catalyst spends minutes inside
    // SizeInBytesOnlyStatsPlanVisitor.visitJoin multiplying BigIntegers
    // (measured on the diameter-4096 path probe: 110 s wall, jstack pinned
    // in ToomCook3 multiplication — planning cost, not data). Rebuilding
    // from the checkpointed RDD resets stats to the constant default, so
    // per-round planning stays O(plan size) at any round count.
    def checkpointFresh(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint()
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    }

    // Fixpoint test WITHOUT a confirmation round: with canonical (hi, lo)
    // orientation the alternation's fixpoints are exactly the star forests
    // rooted at component minima — every child carries ONE edge (count ==
    // distinct u) and no node is both child and root (u ∩ v empty). ONE
    // job over the checkpointed frame (r22; was three per check — isEmpty +
    // count aggregate + u∩v semi-join — and the fixpoint loop pays the
    // check every round, so the serial job chain dominated d6b's wall at
    // every SF): explode each edge into (node, child-flag, root-flag), one
    // per-node aggregate, one global readout. Equivalences: Σ child-counts
    // = edge count, #nodes with a child edge = distinct u, a node with both
    // flags = a u∩v member, and an empty frame reads (0, 0, 0) = star
    // forest — which also covers the old standalone isEmpty pre-check.
    def isStarForest(e: DataFrame): Boolean = {
      val r = e.select(explode(array(
          struct(col("u").as("n"), lit(1L).as("c"), lit(0L).as("r")),
          struct(col("v").as("n"), lit(0L).as("c"), lit(1L).as("r")))).as("x"))
        .groupBy(col("x.n")).agg(sum(col("x.c")).as("nc"), max(col("x.r")).as("hr"))
        .agg(coalesce(sum(col("nc")), lit(0L)).as("ne"),
          count(when(col("nc") > 0, 1)).as("nu"),
          count(when(col("nc") > 0 && col("hr") === 1, 1)).as("both"))
        .head()
      r.getLong(0) == r.getLong(1) && r.getLong(2) == 0L
    }

    var done = isStarForest(edges)
    var iter = 0
    while (!done && iter < maxIter) {
      // per-round materialization truncates lineage so the loop's plan
      // stays flat; the large-star intermediate is materialized too —
      // small-star consumes it on both join sides and Spark has no
      // cross-branch CSE (same discipline as every iterative operator here)
      edges = checkpointFresh(smallStar(checkpointFresh(largeStar(edges))))
      iter += 1
      done = isStarForest(edges)
    }
    // silent non-convergence would split true components without any signal
    // downstream (d6/c1 would under-drop dups) — fail loudly instead. With
    // logarithmic rounds the default 25 covers ~2^25 nodes per component;
    // the old O(diameter) bound is gone.
    require(done, s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint is a star forest: every edge is (child, component-min root),
    // roots appear only on the lo side — so each id maps to exactly one comp
    val labels = edges.select(col("u").as("id"), col("v").as("comp"))
      .union(edges.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
    val out = nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    (out, iter)
  }

  /** Benchmark decontamination: training docs sharing at least `minShared`
    * distinct 3-token shingles with any eval/benchmark doc — the standard
    * n-gram-collision check run before training, as a shingle inverted-index
    * equi-join (never all-pairs). The eval side is benchmark-sized, so its
    * inverted index broadcasts; cost is linear in the training corpus. Both
    * sides dedup shingles per doc first, so the per-pair count IS the number
    * of distinct shared shingles.
    */
  def contaminationPairs(train: DataFrame, evalDocs: DataFrame, idCol: String,
                         textCol: String, minShared: Int = 2): DataFrame = {
    def inv(df: DataFrame, as: String) =
      shingleArrays(df, idCol, textCol)
        .select(col(idCol).as(as), explode(array_distinct(col("sh"))).as("shingle"))
    inv(train, "train_id")
      .join(broadcast(inv(evalDocs, "eval_id")), "shingle")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-eval-document contamination VERDICTS: the fraction of an eval
    * doc's distinct shingles that appear ANYWHERE in the training corpus,
    * plus the thresholded `contaminated` flag — the number an actual
    * decontamination pass filters on (the standard published protocol drops
    * an eval doc / flags a train overlap when n-gram overlap exceeds a
    * fraction, not when any 2 shingles match as in [[contaminationPairs]]).
    *
    * Shape: the eval inverted index (benchmark-sized) LEFT-SEMI-joins the
    * raw training shingle stream — semi join, so duplicate occurrences of a
    * shingle across training docs cannot double-count a match and no
    * corpus-wide `distinct` pass is needed; cost is one linear pass over
    * training shingles hashed on the join key. At 100 TB compose with the
    * [[contaminationPairsBloom]] prefilter discipline (probe each training
    * shingle against the eval Bloom before the shuffle) — false positives
    * die in the exact semi join, so results are unchanged.
    *
    * Eval docs with NO shingles (< 3 tokens) are absent from the output —
    * vacuously clean, and keeping the contract symmetric with the oracle's
    * inverted-index formulation.
    */
  def contaminationFractions(train: DataFrame, evalDocs: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double = 0.5): DataFrame = {
    // materialize: evalInv feeds both the totals and the semi join, and
    // Spark has no cross-branch CSE — without this the eval corpus
    // tokenizes and shingles twice (the contaminationPairsBloom discipline)
    val evalInv = materialize(shingleArrays(evalDocs, idCol, textCol)
      .select(col(idCol).as("eval_id"), explode(array_distinct(col("sh"))).as("shingle")))
    val trainSh = shingleArrays(train, idCol, textCol)
      .select(explode(col("sh")).as("shingle"))
    val totals = evalInv.groupBy("eval_id").agg(count(lit(1)).as("n_shingles"))
    val matched = evalInv.join(trainSh, Seq("shingle"), "left_semi")
      .groupBy("eval_id").agg(count(lit(1)).as("n_matched"))
    totals.join(matched, Seq("eval_id"), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("overlap_frac",
        round(col("n_matched").cast("double") / col("n_shingles").cast("double"), 4))
      .withColumn("contaminated", col("overlap_frac") >= threshold)
  }

  // ---------- incremental decontamination (the daily-ingest form) ----------
  //
  // contaminationFractions re-streams the WHOLE training corpus per call —
  // right for a one-shot audit, wasteful when the corpus grows daily while
  // the eval suite is fixed. The incremental form inverts the state: the
  // eval inverted index is built once (benchmark-sized), each training
  // delta probes it, and the only mutable state is the set of ALREADY-
  // MATCHED (eval_id, shingle) pairs — a monotone subset of the eval index,
  // so state is bounded by the EVAL SUITE size no matter how large the
  // corpus grows. Per-batch cost is one pass over the delta's shingles;
  // verdicts recompute from the bounded state in eval-suite time.

  /** The eval-suite inverted index: (eval_id, shingle), distinct — build
    * once per suite ([[materialize]]d: every probe and the verdict pass
    * reuse it). Persist with plain parquet write for the durable form.
    */
  def contaminationIndexFrame(evalDocs: DataFrame, idCol: String,
                              textCol: String): DataFrame =
    materialize(shingleArrays(evalDocs, idCol, textCol)
      .select(col(idCol).as("eval_id"), explode(array_distinct(col("sh"))).as("shingle")))

  /** Probe ONE training delta against the eval index: the (eval_id,
    * shingle) pairs this delta matches — the rows to union into the matched
    * state. Semi-join shape ([[contaminationFractions]]'s discipline):
    * duplicate shingle occurrences inside the delta cannot double-count,
    * and cost is one linear pass over delta shingles hashed on the key. At
    * 100 TB compose with the [[contaminationPairsBloom]] Bloom prefilter on
    * the delta side — false positives die in this exact semi join.
    */
  def contaminationProbe(evalInv: DataFrame, trainDelta: DataFrame,
                         idCol: String, textCol: String): DataFrame =
    evalInv.join(
      shingleArrays(trainDelta, idCol, textCol).select(explode(col("sh")).as("shingle")),
      Seq("shingle"), "left_semi")

  /** Verdicts from accumulated matched state — output-identical to
    * [[contaminationFractions]] over the union of all probed deltas.
    * `matched` may carry duplicate pairs (overlapping batches, at-least-
    * once replays): the distinct count makes duplicate appends harmless,
    * which is what lets the persisted form append blindly and stay
    * replay-idempotent with no marker protocol.
    */
  def contaminationVerdictsFromState(evalInv: DataFrame, matched: DataFrame,
                                     threshold: Double = 0.5): DataFrame =
    evalInv.groupBy("eval_id").agg(count(lit(1)).as("n_shingles"))
      .join(matched.groupBy("eval_id").agg(count_distinct(col("shingle")).as("n_matched")),
        Seq("eval_id"), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("overlap_frac",
        round(col("n_matched").cast("double") / col("n_shingles").cast("double"), 4))
      .withColumn("contaminated", col("overlap_frac") >= threshold)

  /** Build (overwrite) the persisted contamination index for an eval suite:
    * `dir/eval_inv` is the inverted index, `dir/matched` starts empty.
    */
  def buildContaminationIndex(evalDocs: DataFrame, idCol: String,
                              textCol: String, dir: String): Unit = {
    val inv = contaminationIndexFrame(evalDocs, idCol, textCol)
    inv.write.mode("overwrite").parquet(s"$dir/eval_inv")
    inv.filter(lit(false)).write.mode("overwrite").parquet(s"$dir/matched")
  }

  /** Probe a training delta against the persisted index and append the
    * newly matched pairs. Append-only and duplicate-tolerant (the verdict
    * pass counts distinct), so a crashed/replayed batch needs no marker:
    * re-probing appends the same pairs again and verdicts are unchanged.
    * Single-writer, like every sink in this engine. Returns the number of
    * matched pairs this delta contributed (pre-dedup).
    */
  def contaminationGateBatch(indexDir: String, trainDelta: DataFrame,
                             idCol: String, textCol: String): Long = {
    val spark = trainDelta.sparkSession
    val hits = materialize(contaminationProbe(
      spark.read.parquet(s"$indexDir/eval_inv"), trainDelta, idCol, textCol))
    hits.write.mode("append").parquet(s"$indexDir/matched")
    hits.count()
  }

  /** Verdicts from the persisted index ([[contaminationVerdictsFromState]]
    * over `dir/eval_inv` + `dir/matched`).
    */
  def contaminationVerdictsIndexed(spark: org.apache.spark.sql.SparkSession,
                                   indexDir: String,
                                   threshold: Double = 0.5): DataFrame =
    contaminationVerdictsFromState(
      spark.read.parquet(s"$indexDir/eval_inv"),
      spark.read.parquet(s"$indexDir/matched"), threshold)

  /** [[contaminationPairs]]'s 100 TB lane: a Bloom filter over the eval
    * suite's shingle hashes prunes the training-side inverted index BEFORE
    * any join. Identical output (hash-checked by the d7b oracle): Bloom
    * filters have NO false negatives, so every genuinely shared shingle
    * survives the prefilter, and false positives die in the exact equi-join
    * verify — the prefilter changes cost, never results.
    *
    * Why this matters at scale: [[contaminationPairs]] broadcasts the eval
    * inverted index as a JOIN HASH RELATION (~tens of bytes per shingle
    * entry — benchmark suites with 10^8-10^9 distinct n-grams outgrow a
    * sane broadcast budget), and every exploded training shingle flows into
    * that join. Here the eval side ships as ~1.2 BYTES per entry (1% fpp),
    * the might-contain probe is one codegen'd virtual call per training
    * shingle ([[graft.functions.BloomMightContain]] — no boxing, stage
    * stays whole-stage codegen), and only surviving shingles — in the
    * uncontaminated common case a tiny fraction — reach the verify join,
    * which is left unhinted so AQE broadcasts a small eval index and
    * shuffle-joins a huge one (where the prefilter has already collapsed
    * the train side: the canonical semi-join reduction). Joins key on
    * xxhash64(shingle) — the d4 posture: 8-byte keys, 2^-64 cross-shingle
    * collision odds, counts exact because distinctness is established on
    * the string set before hashing.
    */
  def contaminationPairsBloom(train: DataFrame, evalDocs: DataFrame,
                              idCol: String, textCol: String,
                              minShared: Int = 2, fpp: Double = 0.01): DataFrame = {
    require(minShared >= 1 && fpp > 0 && fpp < 1, s"minShared=$minShared fpp=$fpp")
    def inv(df: DataFrame, as: String) =
      shingleArrays(df, idCol, textCol)
        .select(col(idCol).as(as),
          explode(transform(array_distinct(col("sh")), s => xxhash64(s))).as("h"))
    // benchmark-sized by contract; feeds the filter build AND the verify join
    val evalInv = inv(evalDocs, "eval_id").localCheckpoint()
    val bf = evalInv.stat.bloomFilter("h", math.max(1L, evalInv.count()), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    inv(train, "train_id")
      .filter(call_function("bloom_might_contain", col("h"), lit(bos.toByteArray)))
      .join(evalInv, "h")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact n-gram (3-token shingle) Jaccard similarity for all pairs that
    * share at least one shingle, within a blocking key (e.g. language) —
    * the shingle inverted index IS the join, so complexity is bounded by
    * shingle collisions, not |docs|².
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, threshold: Double): DataFrame = {
    val sets = materialize(
      spread(df.select(col(blockCol).as("blk"), col(idCol), col(textCol)))
        .select(col("blk"), col(idCol), Text.tokens(col(textCol)).as("toks"))
        .select(col("blk"), col(idCol), array_distinct(Text.shingles3(col("toks"))).as("sh")))
    // The inverted index joins on xxhash64(shingle), not the shingle string:
    // the join/shuffle key drops from ~25 B of text to 8 B with identical
    // match counts (a cross-shingle 64-bit collision inside one block would
    // be needed to change n_common; at 2^-64 per pair that is not a realistic
    // event at any corpus size this engine targets). Distinctness per doc is
    // established on the string set BEFORE hashing, so counts are exact.
    val inv = sets.select(col("blk"), col(idCol),
      explode(transform(col("sh"), s => xxhash64(s))).as("h"))
    val pairs = inv.select(col("blk"), col("h"), col(idCol).as("a"))
      .join(inv.select(col("blk"), col("h"), col(idCol).as("b")), Seq("blk", "h"))
      .filter(col("a") < col("b"))
      .groupBy(col("blk"), col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
    val sizes = sets.select(col(idCol), size(col("sh")).as("n_sh"))
    pairs
      .join(sizes.select(col(idCol).as("a"), col("n_sh").as("n_a")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n_sh").as("n_b")), "b")
      .withColumn("jaccard", round(
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("blk", "a", "b", "jaccard")
  }
}
