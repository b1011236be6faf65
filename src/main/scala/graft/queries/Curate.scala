package graft.queries

import graft.{QueryDef, QueryModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Training-data curation over `documents` — the composite steps a corpus
  * pipeline runs after the per-doc analyses (quality / language / dedup)
  * have produced their signals.
  *
  * `pipeline_curate` composes the existing operators as DataFrames — the
  * Spark-first analogue of the reference's view-over-view layering: each
  * stage stays an independent declarative plan and Catalyst fuses the
  * composition (common scans dedup via the shared [[Docs]] pass).
  *
  * `sample_stratified` is deterministic hash-ordered stratified sampling:
  * rank by a stable 64-bit hash of the doc id inside each stratum and keep
  * the first k. No RNG, so the sample is reproducible across engines,
  * retries, and cluster sizes — at 100 TB this is one window per stratum
  * partition, no global sort and no driver-side sampling pass.
  */
object Curate extends QueryModule {

  // ------------------------------------------------- sample_stratified
  private val StratumChars = 500L // document-length bucket width
  private val SamplePerStratum = 10

  private def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val st = Docs.enriched(s, dir).select(
      col("doc_id"),
      expr(s"cast(length(text) as bigint) div $StratumChars").as("stratum"),
      md5Long64(col("doc_id").cast("string")).as("sample_key"))
    val w = Window.partitionBy("stratum").orderBy(col("sample_key"), col("doc_id"))
    st.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= SamplePerStratum)
      .select("stratum", "rk", "doc_id", "sample_key")
      .orderBy("stratum", "rk")
  }

  private val sampleStratifiedSql =
    s"""WITH st AS (
       |  SELECT doc_id,
       |         CAST(length(text) AS BIGINT) // $StratumChars AS stratum,
       |         ${md5Long64Sql("CAST(doc_id AS VARCHAR)")} AS sample_key
       |  FROM documents),
       |ranked AS (
       |  SELECT stratum, doc_id, sample_key,
       |         CAST(row_number() OVER (PARTITION BY stratum ORDER BY sample_key, doc_id) AS BIGINT) AS rk
       |  FROM st)
       |SELECT stratum, rk, doc_id, sample_key
       |FROM ranked WHERE rk <= $SamplePerStratum
       |ORDER BY stratum, rk""".stripMargin

  // --------------------------------------------------- pipeline_curate
  // Keep a document iff it (a) survives exact dedup, (b) clears the
  // quality bar, (c) has enough words, and (d) gets a confident language
  // call. Every signal is the already-oracle-checked operator's output;
  // the filters are joins, so at scale this is two hash-shuffles on
  // doc_id over signals that are each a single scan-bound pass.
  private[graft] val MinWords = 20L
  private[graft] val MinQuality = 0.40

  private def pipelineCurate(s: SparkSession, dir: String): DataFrame = {
    val q = Text.quality(s, dir).select("doc_id", "n_words", "quality_score")
    val survivors = Text.dedupExact(s, dir).select(col("survivor_doc_id").as("doc_id"))
    val lang = Text.langId(s, dir).select("doc_id", "predicted_lang")
    q.join(survivors, "doc_id")
      .join(lang, "doc_id")
      .filter(col("n_words") >= MinWords && col("quality_score") >= MinQuality &&
        col("predicted_lang") =!= "unknown")
      .select("doc_id", "n_words", "quality_score", "predicted_lang")
      .orderBy("doc_id")
  }

  private val pipelineCurateSql =
    s"""WITH q AS (${Text.qualitySql}),
       |survivors AS (SELECT survivor_doc_id AS doc_id FROM (${Text.dedupExactSql})),
       |lang AS (SELECT doc_id, predicted_lang FROM (${Text.langIdSql}))
       |SELECT q.doc_id, q.n_words, q.quality_score, lang.predicted_lang
       |FROM q
       |JOIN survivors ON survivors.doc_id = q.doc_id
       |JOIN lang ON lang.doc_id = q.doc_id
       |WHERE q.n_words >= $MinWords AND q.quality_score >= $MinQuality
       |  AND lang.predicted_lang <> 'unknown'
       |ORDER BY q.doc_id""".stripMargin

  // ------------------------------------------------------ text_lm_score
  // Corpus bigram language-model score per document — the KenLM-style
  // "does this text look like the corpus" quality filter. Integer-scaled
  // conditional probabilities (C(w1,w2)*1e6 div C(w1)) instead of log
  // probs: transcendental libm results are not bit-identical across
  // engines, integer division is, and the induced ranking is the same
  // monotone order. Plan shape: one explode→groupBy for per-doc bigram
  // tfs, corpus bigram/unigram counts are vocabulary-sized aggregates that
  // broadcast into the tf join — the detail side shuffles once on
  // (doc_id, bigram), never on the corpus.
  // ~2M (bg, bigint) rows broadcast as ~100-150 MB — comfortably inside an
  // executor heap, far below driver OOM territory; real web corpora blow
  // past this within a few GB of text and fall back to AQE planning.
  private val LmBroadcastMaxBigrams = 2000000L

  private def lmScore(s: SparkSession, dir: String): DataFrame = {
    val occ = Docs.enriched(s, dir)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks)-1), k -> named_struct('w1', element_at(toks,k), 'bg', concat_ws(' ', element_at(toks,k), element_at(toks,k+1))))"))
        .as("o"))
      .select(col("doc_id"), col("o.w1").as("w1"), col("o.bg").as("bg"))
    // ONE corpus explode, not three (r11: the sf10 profile showed the
    // dominant cost was occ being re-derived for tf, c_bg AND c_w1 — the
    // LM tables are aggregates OF tf, so memoize tf once per (session,
    // corpus) and fold the corpus counts from it: c_bg = Σ_docs tf is the
    // same number as count(*) over occ, bit-for-bit, and the two
    // re-aggregations now read the cached (doc,w1,bg) frame instead of
    // re-exploding the corpus).
    val tf = SessionCache.memo(s, "lm_tf", dir) {
      occ.groupBy("doc_id", "w1", "bg").agg(count(lit(1)).as("tf"))
    }
    val cBg = tf.groupBy("bg").agg(sum("tf").as("c_bg"))
    val cW1 = tf.groupBy("w1").agg(sum("tf").as("c_w1"))
    // ADAPTIVE broadcast (r12, de-risking r10 verdict #5's fixed hint): on
    // THIS corpus the LM tables saturate on a fixed vocab, but real web
    // text grows distinct bigrams near-linearly — an unconditional hint
    // would force collecting a corpus-scale aggregate to the driver at
    // 100 TB. So the hint is GATED on the measured distinct-bigram count
    // (the codec/staging/pagerank adaptive-threshold precedent): below the
    // cap, hinting avoids Catalyst's sort-merge mis-plan (it sizes the agg
    // by its corpus-scale child — 17.9x at 100x unhinted, the r10
    // finding) and the tf side goes shuffle-free from its (doc_id,w1,bg)
    // agg straight into the per-doc rollup; above it, AQE plans from real
    // runtime sizes. distinct(w1) <= distinct(bg) (every unigram heads
    // >=1 bigram), so one measured count gates both sides; the count is
    // one pass over the memoized tf, once per (session, corpus).
    val bgCount = SessionCache.memoVal(s, "lm_bg_count", dir) { cBg.count() }
    val (bgSide, w1Side) =
      if (bgCount <= LmBroadcastMaxBigrams) (broadcast(cBg), broadcast(cW1))
      else (cBg, cW1)
    tf.join(bgSide, "bg").join(w1Side, "w1")
      .withColumn("p_scaled", expr("c_bg * 1000000L div c_w1"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"), sum(expr("tf * p_scaled")).as("sum_p"))
      .withColumn("lm_score", expr("sum_p div n_bigrams"))
      .select("doc_id", "n_bigrams", "lm_score")
      .orderBy("doc_id")
  }

  private val lmScoreSql =
    s"""WITH occ AS (
       |  SELECT doc_id, toks[k] AS w1, toks[k] || ' ' || toks[k+1] AS bg
       |  FROM (SELECT doc_id, ${Docs.toksDuck} AS toks FROM documents),
       |       unnest(range(1, len(toks))) AS u(k)
       |  WHERE len(toks) >= 2),
       |tf AS (SELECT doc_id, w1, bg, CAST(count(*) AS BIGINT) AS tf FROM occ GROUP BY doc_id, w1, bg),
       |c_bg AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM occ GROUP BY bg),
       |c_w1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_w1 FROM occ GROUP BY w1),
       |scored AS (
       |  SELECT tf.doc_id, tf.tf, c_bg.c_bg * 1000000 // c_w1.c_w1 AS p_scaled
       |  FROM tf JOIN c_bg ON c_bg.bg = tf.bg JOIN c_w1 ON c_w1.w1 = tf.w1)
       |SELECT doc_id,
       |       CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |       CAST(CAST(sum(tf * p_scaled) AS BIGINT) // CAST(sum(tf) AS BIGINT) AS BIGINT) AS lm_score
       |FROM scored GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ decontaminate
  // Benchmark-overlap detection (train/eval decontamination): any corpus
  // document sharing a 5-gram with the held-out set is flagged. The eval
  // set is a CONSTANT-size slice (doc_id < 20 stands in for "the
  // benchmark"), so its distinct 5-gram hashes broadcast and the check is
  // a scan-local semi-join at any corpus size — the shape HELM/The-Pile
  // style decontamination uses (exact n-gram hash match, n=5).
  private val DecontamN = 5
  // Dedup.FuzzyBenchDocs (40) deliberately differs: the two decontamination
  // ops model two differently sized eval suites (the fuzzy op needs the
  // wider slice for non-hollow cross-set near-dup signal at every SF).
  private val BenchDocs = 20L

  private def grams(df: DataFrame): DataFrame = df
    .filter(size(col("toks")) >= DecontamN)
    .select(col("doc_id"), explode(expr(
      s"transform(sequence(1, size(toks)-${DecontamN - 1}), k -> concat_ws(' ', ${(0 until DecontamN).map(j => s"element_at(toks,k+$j)").mkString(", ")}))"))
      .as("gram"))
    .select(col("doc_id"), md5Long64(col("gram")).as("gh"))

  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Docs.enriched(s, dir)
    val bench = broadcast(grams(d.filter(col("doc_id") < BenchDocs))
      .select("gh").distinct())
    val corpus = grams(d.filter(col("doc_id") >= BenchDocs))
    val totals = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = corpus.join(bench, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0L)) > 0, 1L).otherwise(0L).as("contaminated"))
      .orderBy("doc_id")
  }

  private val decontaminateSql = {
    val gramExpr = (0 until DecontamN).map(j => s"toks[k+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, ${Docs.toksDuck} AS toks FROM documents),
       |grams AS (
       |  SELECT doc_id, ${md5Long64Sql(s"($gramExpr)")} AS gh
       |  FROM toks, unnest(range(1, len(toks) - ${DecontamN - 2})) AS u(k)
       |  WHERE len(toks) >= $DecontamN),
       |bench AS (SELECT DISTINCT gh FROM grams WHERE doc_id < $BenchDocs),
       |corpus AS (SELECT doc_id, gh FROM grams WHERE doc_id >= $BenchDocs),
       |totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM corpus GROUP BY doc_id),
       |hits AS (
       |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM corpus c JOIN bench b ON b.gh = c.gh GROUP BY c.doc_id)
       |SELECT t.doc_id, t.n_grams,
       |       coalesce(h.n_hits, 0) AS n_hits,
       |       CASE WHEN coalesce(h.n_hits, 0) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS contaminated
       |FROM totals t LEFT JOIN hits h ON h.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // ------------------------------------------------------ vocab_growth
  // Heaps-law vocabulary saturation: scanning docs in id order, how many
  // NEW vocabulary units each block of 50 docs introduces and the
  // cumulative vocabulary — the curve that sizes a tokenizer vocab before
  // training. The unit is the word bigram (the BPE-merge analogue; the
  // synthetic corpus's unigram vocab saturates in the first block, bigrams
  // keep growing). One shuffle on the unit for first-seen, then the
  // running sum runs on the block axis, whose cardinality is corpus/50 —
  // the unpartitioned window is over that tiny derived table, never rows.
  private val VocabBlock = 50L

  private def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val first = Docs.enriched(s, dir)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(toks)-1), k -> concat_ws(' ', element_at(toks,k), element_at(toks,k+1))))"))
        .as("unit"))
      .groupBy("unit").agg(min("doc_id").as("first_doc"))
    val blocks = first.groupBy(expr(s"first_doc div $VocabBlock").as("block"))
      .agg(count(lit(1)).as("new_units"))
    val w = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    blocks.withColumn("cum_vocab", sum("new_units").over(w))
      .orderBy("block")
  }

  private val vocabGrowthSql =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(range(1, len(toks)), k -> toks[k] || ' ' || toks[k+1]))) AS unit
       |  FROM (SELECT doc_id, ${Docs.toksDuck} AS toks FROM documents)
       |  WHERE len(toks) >= 2),
       |first AS (SELECT unit, min(doc_id) AS first_doc FROM t GROUP BY unit),
       |blocks AS (
       |  SELECT first_doc // $VocabBlock AS block, CAST(count(*) AS BIGINT) AS new_units
       |  FROM first GROUP BY first_doc // $VocabBlock)
       |SELECT block, new_units,
       |       CAST(sum(new_units) OVER (ORDER BY block ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
       |FROM blocks ORDER BY block""".stripMargin

  // ------------------------------------------------------ corpus_shards
  // Pack documents into fixed token-budget training shards — the
  // pre-tokenization sharding pass every large-scale pipeline runs before
  // writing tokenizer input. A doc's shard is floor(start / budget) where
  // start is its global prefix-sum of token counts in a deterministic
  // hash order. The prefix sum is TWO-PHASE (the parallel prefix-sum
  // shape): docs bucket by hash, each bucket computes its local cumsum
  // under a PARTITIONED window, and the 64 per-bucket totals — a
  // constant-size frame — roll into broadcast start offsets. A single
  // global ORDER BY window would drag the whole corpus through one
  // partition; this never does, at any scale.
  private val ShardBudget = 2048L
  private[graft] val PrefixBuckets = 64

  /** (doc_id, n_tokens, start): every doc's global token offset in the
    * deterministic hash order, via the two-phase prefix sum — shared by
    * corpus_shards (shard-level aggregate) and corpus_pack (per-doc
    * sequence-span map).
    */
  private def tokenStarts(s: SparkSession, dir: String): DataFrame = {
    val docs = Docs.enriched(s, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("h", md5Long64(col("doc_id").cast("string")))
      .withColumn("b", col("h") % PrefixBuckets) // h is 60-bit nonneg
    val wLocal = Window.partitionBy("b").orderBy("h", "doc_id")
    val local = docs.withColumn("local_end", sum("n_tokens").over(wLocal))
    // 64 rows: the only unpartitioned window runs over the constant bucket
    // count, never the data
    val offsets = docs.groupBy("b").agg(sum("n_tokens").as("bt"))
      .withColumn("bucket_start", coalesce(
        sum("bt").over(Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("b", "bucket_start")
    local.join(broadcast(offsets), "b")
      .withColumn("start", col("bucket_start") + col("local_end") - col("n_tokens"))
      .select("doc_id", "n_tokens", "start")
  }

  private def corpusShards(s: SparkSession, dir: String): DataFrame =
    tokenStarts(s, dir)
      .withColumn("shard_id", expr(s"start div $ShardBudget"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("shard_id")

  private val corpusShardsSql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(${Docs.toksDuck}) AS BIGINT) AS n_tokens,
       |         ${md5Long64Sql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |keyed AS (SELECT *, h % $PrefixBuckets AS b FROM d),
       |pre AS (
       |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
       |    ORDER BY b, h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM keyed)
       |SELECT start // $ShardBudget AS shard_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM pre GROUP BY 1 ORDER BY shard_id""".stripMargin

  // -------------------------------------------------------- corpus_pack
  // Per-document sequence-span map for fixed-length training sequences —
  // the last hop before a sequence writer materializes packed context
  // windows: each doc occupies global token range [start, start+n) in the
  // deterministic hash order, so it lands in sequences seq_first..seq_last
  // (of length SeqLen = ShardBudget, so seq_first == corpus_shards'
  // shard_id — the two ops mutually pin), entering the first one at
  // offset_in_seq. Document-contiguous packing with splits allowed (the
  // GPT-style pack-and-split regime); n_seqs > 1 marks docs a sequence
  // boundary cuts. Same two-phase prefix sum as corpus_shards — no
  // global-order window at any scale. Zero-token docs (empty after
  // tokenization) carry no span and are excluded explicitly.
  private[graft] val SeqLen = ShardBudget

  private def corpusPack(s: SparkSession, dir: String): DataFrame =
    tokenStarts(s, dir)
      .filter(col("n_tokens") > 0)
      .withColumn("seq_first", expr(s"start div $SeqLen"))
      .withColumn("seq_last", expr(s"(start + n_tokens - 1) div $SeqLen"))
      .withColumn("offset_in_seq", expr(s"start % $SeqLen"))
      .withColumn("n_seqs", expr("seq_last - seq_first + 1"))
      .select("doc_id", "n_tokens", "start", "seq_first", "offset_in_seq",
        "seq_last", "n_seqs")
      .orderBy("doc_id")

  private val corpusPackSql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(${Docs.toksDuck}) AS BIGINT) AS n_tokens,
       |         ${md5Long64Sql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |keyed AS (SELECT *, h % $PrefixBuckets AS b FROM d),
       |pre AS (
       |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
       |    ORDER BY b, h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM keyed)
       |SELECT doc_id, n_tokens, start,
       |  start // $SeqLen AS seq_first,
       |  start % $SeqLen AS offset_in_seq,
       |  (start + n_tokens - 1) // $SeqLen AS seq_last,
       |  (start + n_tokens - 1) // $SeqLen - start // $SeqLen + 1 AS n_seqs
       |FROM pre WHERE n_tokens > 0
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- corpus_pack_write
  // Materialize the fixed-length packed token sequences corpus_pack's span
  // map DESCRIBES — the last missing hop between the curation pipeline and
  // a trainer's input reader (r11 verdict #5). Every document's tokens land
  // at global positions [start, start+n) in the deterministic hash order,
  // so sequence seq_id = gpos div SeqLen holds exactly the 2048-token
  // window the span map promised: doc-contiguous, split-allowed, every
  // slot filled (only the final sequence may be partial). The sequence
  // table is written INSERT-ONLY with the vault loader's append
  // discipline (anti-join on seq_id — dv_loader.rs:5-66; a re-run appends
  // nothing), then read back and reduced to the oracle-comparable form:
  // (seq_id, n_docs, n_tokens, sha256 of the space-joined token window).
  //
  // Scale shape: one corpus token explode (the linear volume every token
  // op pays) keyed by seq_id — a single shuffle on a compact BIGINT key
  // whose groups are EXACTLY SeqLen rows (no skew by construction); the
  // in-sequence order is index-ordered array accumulation over unique
  // gpos (SURVEY §5), never a window. The span-map join reuses the
  // memoized two-phase prefix sum. At 100 TB the table is a bucketed
  // parquet like the vault repos; here the path is session-scoped (the
  // embedPairsTable precedent: warehouse dir + random suffix, cleaned on
  // session end, shared storage on a cluster).
  private[graft] def packedSeqBuild(s: SparkSession, dir: String): DataFrame = {
    val spans = tokenStarts(s, dir).filter(col("n_tokens") > 0)
      .select("doc_id", "start")
    val toks = Docs.enriched(s, dir).select(col("doc_id"), col("toks"))
    spans.join(toks, "doc_id")
      .select(col("doc_id"), col("start"), posexplode(col("toks")).as(Seq("k", "tok")))
      .withColumn("gpos", col("start") + col("k"))
      .withColumn("seq_id", expr(s"gpos div $SeqLen"))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        transform(array_sort(collect_list(struct(col("gpos"), col("tok")))),
          x => x.getField("tok")).as("tokens"))
  }

  /** The materialized sequence-table path — session-scoped and memoized so
    * a second corpus_pack_write call in the same session exercises the
    * idempotent-append path (the spec pins it).
    */
  private def packedSeqPath(s: SparkSession, dir: String): String =
    SessionCache.memoVal(s, "packed_seq_path", dir) {
      val p = s"${s.conf.get("spark.sql.warehouse.dir")}/graft_packed_seqs_" +
        java.util.UUID.randomUUID().toString.take(8)
      SessionCache.onSessionEnd(s, s"packed_seq_dir_$p") {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      p
    }

  private def corpusPackWrite(s: SparkSession, dir: String): DataFrame = {
    val path = packedSeqPath(s, dir)
    graft.dv.DvLoader.appendNovel(s, packedSeqBuild(s, dir), path, Seq("seq_id"), None)
    s.read.parquet(path)
      .select(col("seq_id"), col("n_docs"), col("n_tokens"),
        sha2(concat_ws(" ", col("tokens")), 256).as("seq_sha"))
      .orderBy("seq_id")
  }

  private val corpusPackWriteSql =
    s"""WITH t0 AS (SELECT doc_id, ${Docs.toksDuck} AS toks FROM documents),
       |d AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
       |         ${md5Long64Sql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM t0),
       |keyed AS (SELECT *, h % $PrefixBuckets AS b FROM d),
       |pre AS (
       |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
       |    ORDER BY b, h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM keyed),
       |tok AS (
       |  SELECT doc_id, start + u.k - 1 AS gpos, toks[CAST(u.k AS INT)] AS tok
       |  FROM pre, LATERAL (SELECT unnest(generate_series(1, CAST(n_tokens AS INT))) AS k) u
       |  WHERE n_tokens > 0)
       |SELECT gpos // $SeqLen AS seq_id,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  sha256(string_agg(tok, ' ' ORDER BY gpos)) AS seq_sha
       |FROM tok GROUP BY 1 ORDER BY seq_id""".stripMargin

  // ----------------------------------------------- corpus_pack_segments
  // Per-sequence document-SEGMENT map for the packed windows
  // corpus_pack_write materializes: one row per (sequence, document
  // fragment) with the fragment's in-window offset and length, ordered by
  // position. This is the attention/loss-mask spec a trainer consumes next
  // to the packed token file — cross-document attention is masked exactly
  // at these boundaries (the pack-and-split regime trains with block-
  // diagonal attention over segments). Derived purely from the span map:
  // doc d occupying global range [start, start+n) contributes to window w
  // the fragment [max(start, wL), min(start+n, (w+1)L)) — so the op is
  // SPAN-scale (docs + boundary crossings), never a token explode. The
  // sequence() explode fans each doc to its n_seqs windows (almost always
  // 1-2); seg_idx comes from a window partitioned by seq_id whose groups
  // are bounded by SeqLen fragments by construction — never corpus-scale.
  // Within a window fragments tile contiguously, so seg_start is unique
  // and the ordering deterministic (SURVEY §5).
  private def corpusPackSegments(s: SparkSession, dir: String): DataFrame = {
    val segs = tokenStarts(s, dir)
      .filter(col("n_tokens") > 0)
      .withColumn("seq_id",
        explode(expr(s"sequence(start div $SeqLen, (start + n_tokens - 1) div $SeqLen)")))
      .withColumn("seg_start", greatest(col("start") - col("seq_id") * SeqLen, lit(0L)))
      .withColumn("seg_len",
        least(col("start") + col("n_tokens") - col("seq_id") * SeqLen, lit(SeqLen)) -
          col("seg_start"))
    val w = Window.partitionBy("seq_id").orderBy("seg_start")
    segs.withColumn("seg_idx", row_number().over(w).cast("long"))
      .select("seq_id", "seg_idx", "doc_id", "seg_start", "seg_len")
      .orderBy("seq_id", "seg_idx")
  }

  private val corpusPackSegmentsSql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(${Docs.toksDuck}) AS BIGINT) AS n_tokens,
       |         ${md5Long64Sql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |keyed AS (SELECT *, h % $PrefixBuckets AS b FROM d),
       |pre AS (
       |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
       |    ORDER BY b, h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM keyed),
       |segs AS (
       |  SELECT doc_id,
       |         u.seq_id,
       |         greatest(start - u.seq_id * $SeqLen, 0) AS seg_start,
       |         least(start + n_tokens - u.seq_id * $SeqLen, $SeqLen)
       |           - greatest(start - u.seq_id * $SeqLen, 0) AS seg_len
       |  FROM pre, LATERAL (SELECT unnest(generate_series(
       |    start // $SeqLen, (start + n_tokens - 1) // $SeqLen)) AS seq_id) u
       |  WHERE n_tokens > 0)
       |SELECT seq_id,
       |  CAST(row_number() OVER (PARTITION BY seq_id ORDER BY seg_start) AS BIGINT) AS seg_idx,
       |  doc_id, CAST(seg_start AS BIGINT) AS seg_start, CAST(seg_len AS BIGINT) AS seg_len
       |FROM segs ORDER BY seq_id, seg_idx""".stripMargin

  // ------------------------------------------------------ corpus_health
  // The pipeline-side twin of dv_health: one queryable health table for
  // the corpus — the monitoring surface a production training-data
  // pipeline alerts on. Every metric is an exact BIGINT computed off the
  // session-memoized passes (docs/quality/repetition/pii/near-dup), so
  // the whole report adds ~zero corpus scans beyond what the pipeline
  // already ran; thresholds sit on hash-stable values only. At 100 TB
  // each row is a partial-agg scan or a count over an already-banded
  // candidate set — no new shuffle shapes.
  private val HealthLowQuality = 0.5

  private def corpusHealth(s: SparkSession, dir: String): DataFrame = {
    def row(area: String, metric: String, df: DataFrame): DataFrame =
      df.select(lit(area).as("area"), lit(metric).as("metric"), col("value"))
    val docs = Docs.enriched(s, dir)
    // TWO aggregate passes over the cached docs, each with at most ONE
    // distinct column-set (r15, per the r14 verdict #7): the r14
    // single-pass form put countDistinct(lang) and countDistinct(sha2)
    // in one Aggregate, which plans an Expand replicating the docs frame
    // 3x through the exchange — the exact shape Classify.statsDf removed.
    // One distinct set + plain aggs plans as a plain two-level aggregate
    // (AggUtils.planAggregateWithOneDistinct — no Expand), so splitting
    // the two distincts costs one extra scan over the session-cached docs
    // and removes the 3x replication at corpus scale.
    val corpusRows = docs.agg(
        count(lit(1)).as("v_docs"),
        sum(size(col("toks")).cast("long")).as("v_tokens"),
        countDistinct(col("lang")).as("v_langs"))
      .select(expr(
        "stack(3, 'corpus', 'n_docs', v_docs, 'corpus', 'n_tokens', v_tokens, " +
          "'corpus', 'n_langs', v_langs)")
        .as(Seq("area", "metric", "value")))
    val dupRow = docs
      .agg((count(lit(1)) - countDistinct(expr("sha2(norm, 256)"))).as("value"))
      .select(lit("dedup").as("area"), lit("exact_dup_docs").as("metric"), col("value"))
    corpusRows
      .unionByName(dupRow)
      .unionByName(row("dedup", "near_dup_pairs",
        Dedup.minhashLsh(s, dir).agg(count(lit(1)).as("value"))))
      .unionByName(row("quality", "low_quality_docs",
        Text.quality(s, dir).filter(col("quality_score") < HealthLowQuality)
          .agg(count(lit(1)).as("value"))))
      .unionByName(row("quality", "high_repetition_docs",
        Text.repetition(s, dir).filter(col("flagged") === 1L)
          .agg(count(lit(1)).as("value"))))
      .unionByName(row("pii", "docs_with_pii",
        Text.piiScrub(s, dir).filter(col("n_emails") + col("n_phones") > 0)
          .agg(count(lit(1)).as("value"))))
      .orderBy("area", "metric")
  }

  // plain concatenation, NOT an outer stripMargin: the embedded sub-SQLs
  // contain '||' string concats at line starts, which an outer stripMargin
  // would truncate to a lone '|' (a binder error in DuckDB)
  private def corpusHealthSql = Seq(
    "SELECT 'corpus' AS area, 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM documents",
    s"UNION ALL SELECT 'corpus', 'n_tokens', CAST(sum(len(${Docs.toksDuck})) AS BIGINT) FROM documents",
    "UNION ALL SELECT 'corpus', 'n_langs', CAST(count(DISTINCT lang) AS BIGINT) FROM documents",
    s"UNION ALL SELECT 'dedup', 'exact_dup_docs', CAST(count(*) - count(DISTINCT sha256(${Docs.normDuck})) AS BIGINT) FROM documents",
    s"UNION ALL SELECT 'dedup', 'near_dup_pairs', CAST(count(*) AS BIGINT) FROM (${Dedup.minhashSql})",
    s"UNION ALL SELECT 'quality', 'low_quality_docs', CAST(count(*) AS BIGINT) FROM (${Text.qualitySql}) WHERE quality_score < $HealthLowQuality",
    s"UNION ALL SELECT 'quality', 'high_repetition_docs', CAST(count(*) AS BIGINT) FROM (${Text.repetitionSql}) WHERE flagged = 1",
    s"UNION ALL SELECT 'pii', 'docs_with_pii', CAST(count(*) AS BIGINT) FROM (${Text.piiScrubSql}) WHERE n_emails + n_phones > 0",
    "ORDER BY area, metric").mkString("\n")

  // --------------------------------------------------------- corpus_mix
  // Mixture-weight downsampling: hit a target language mixture (integer
  // percents) by deterministic hash-threshold acceptance — the way a
  // pretraining pipeline rebalances sources without ever sorting or
  // ranking the corpus. N_total is the largest corpus the observed counts
  // can serve without upsampling (min over langs of cnt*100/w); each
  // lang's integer acceptance threshold = target * 2^20 / cnt over a
  // 20-bit hash space. Everything is BIGINT division — bit-identical in
  // both engines — and the corpus pass is one scan with a broadcast
  // lang→threshold join: no window, no shuffle of document rows at all.
  // The binding lang's threshold sits at (or within one floor-quantum
  // of) the full 2^20 hash space, so it survives (essentially) whole.
  private val MixWeights = Seq(("en", 40L), ("zh", 25L), ("de", 15L), ("fr", 10L), ("es", 10L))
  private val MixHashSpace = 1048576L // 2^20

  private def corpusMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
    val w = MixWeights.toDF("lang", "wt")
    val cw = docs.groupBy("lang").agg(count(lit(1)).as("cnt")).join(w, "lang")
    // global feasibility bound as a window over the LANG-cardinality frame
    // (bounded — never the corpus); a join on a constant key would
    // constant-fold into a nested-loop join, which the plan sweep bans
    val thr = cw
      .withColumn("n_total", min(expr("cnt * 100 div wt")).over(Window.partitionBy()))
      .withColumn("thr", expr(s"(((n_total * wt) div 100) * $MixHashSpace) div cnt"))
      .select("lang", "thr")
    docs.withColumn("h", md5Long64(col("doc_id").cast("string")) % MixHashSpace)
      .join(broadcast(thr), "lang")
      .filter(col("h") < col("thr"))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  private val corpusMixSql =
    s"""WITH w(lang, wt) AS (VALUES ${MixWeights.map { case (l, p) => s"('$l', $p)" }.mkString(", ")}),
       |cnts AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY lang),
       |cw AS (SELECT lang, cnt, wt FROM cnts JOIN w USING (lang)),
       |ntot AS (SELECT min(cnt * 100 // wt) AS n_total FROM cw),
       |thr AS (SELECT lang, (((n_total * wt) // 100) * $MixHashSpace) // cnt AS thr FROM cw, ntot)
       |SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |         ${md5Long64Sql("CAST(doc_id AS VARCHAR)")} % $MixHashSpace AS h
       |  FROM documents) d
       |JOIN thr USING (lang) WHERE h < thr ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ curate_prune_quality
  // Per-source quality pruning (the "drop the bottom half of every
  // domain" pass): scores are EXACT INTEGERS (the micro-scaled twin of
  // text_quality's three terms — stop-word ratio, length credit,
  // word-len closeness — as BIGINT division, so both engines agree
  // bit-for-bit), and the per-source upper-median threshold comes from a
  // score HISTOGRAM: the cumulative window runs over (source × distinct
  // score) rows — bounded by the score space, never the corpus — and the
  // corpus pass is one scan with a broadcast source→threshold join.
  private[graft] val qIntExpr =
    "(400000 * n_stop) div n_words + (300000 * least(n_words, 100)) div 100 + " +
      "(300000 * (100 * n_words - least(100 * n_words, abs(10 * sum_len - 47 * n_words)))) " +
      "div (100 * n_words)"

  private val qIntDuck =
    "(400000 * n_stop) // n_words + (300000 * least(n_words, 100)) // 100 + " +
      "(300000 * (100 * n_words - least(100 * n_words, abs(10 * sum_len - 47 * n_words)))) " +
      "// (100 * n_words)"

  private[graft] def docsQInt(s: SparkSession, dir: String): DataFrame =
    Docs.enriched(s, dir)
      .filter(size(col("toks")) >= 1)
      .withColumn("n_words", expr("cast(size(toks) as bigint)"))
      .withColumn("n_stop", expr(
        s"cast(size(filter(toks, x -> x IN ${Text.inList(Text.StopEn)})) as bigint)"))
      .withColumn("sum_len", expr("cast(aggregate(toks, 0, (a, x) -> a + length(x)) as bigint)"))
      .withColumn("q_int", expr(qIntExpr))

  private def prunQuality(s: SparkSession, dir: String): DataFrame = {
    val dq = docsQInt(s, dir)
    val hist = dq.groupBy("source", "q_int").agg(count(lit(1)).as("c"))
    val n = hist.groupBy("source").agg(sum("c").as("n"))
    val wDesc = Window.partitionBy("source").orderBy(col("q_int").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist.withColumn("cum", sum("c").over(wDesc))
      .join(n, "source")
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("source").agg(max("q_int").as("med"))
    dq.join(broadcast(med), "source")
      .filter(col("q_int") >= col("med"))
      .select("doc_id", "source", "q_int")
      .orderBy("doc_id")
  }

  private val prunQualitySql =
    s"""WITH t AS (
       |  SELECT doc_id, source, ${Docs.toksDuck} AS toks FROM documents),
       |m AS (
       |  SELECT doc_id, source,
       |         CAST(len(toks) AS BIGINT) AS n_words,
       |         CAST(len(list_filter(toks, x -> x IN ${Text.inList(Text.StopEn)})) AS BIGINT) AS n_stop,
       |         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len
       |  FROM t WHERE len(toks) >= 1),
       |dq AS (SELECT doc_id, source, $qIntDuck AS q_int FROM m),
       |hist AS (SELECT source, q_int, CAST(count(*) AS BIGINT) AS c FROM dq GROUP BY source, q_int),
       |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY source),
       |cum AS (
       |  SELECT source, q_int, CAST(sum(c) OVER (PARTITION BY source ORDER BY q_int DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM hist),
       |med AS (
       |  SELECT cum.source AS source, max(q_int) AS med
       |  FROM cum JOIN n ON cum.source = n.source
       |  WHERE cum >= (n + 1) // 2 GROUP BY cum.source)
       |SELECT doc_id, dq.source AS source, q_int
       |FROM dq JOIN med ON dq.source = med.source
       |WHERE q_int >= med ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- pipeline_curate_full
  // The END-TO-END production curation recipe — the curation twin of
  // dv_mart_auto's composition proof: one op emits, for EVERY document,
  // each gate's verdict and the final keep decision, composing six
  // already-oracle-checked operators as DataFrames (benchmark exclusion,
  // quality, language, exact-dedup survivorship, minhash near-dup
  // survivorship, fuzzy benchmark contamination, PII). Catalyst fuses
  // the shared Docs/shingle/band passes (all memoized), so the plan adds
  // joins on doc_id — not re-scans. The boilerplate ratio is NOT a gate:
  // the fixed-vocabulary corpus saturates it at larger SFs (every
  // 3-gram common), so a threshold could not partition at all three
  // gate SFs — a real deployment would add it per-corpus.
  // Near-dup survivorship here is PAIR-wise (drop the higher id of each
  // verified pair — min-label over edges); the transitive-closure form
  // is dedup_cluster's job and needs the recursive kernel.
  private def pipelineCurateFull(s: SparkSession, dir: String): DataFrame = {
    // quality is one row per document (unfiltered scan), so it IS the base
    // relation — no separate documents join needed.
    val q = Text.quality(s, dir).select("doc_id", "n_words", "quality_score")
    val lang = Text.langId(s, dir).select("doc_id", "predicted_lang")
    val ex = Text.dedupExact(s, dir)
      .select(col("survivor_doc_id").as("doc_id"), lit(1L).as("ex1"))
    val inferior = Dedup.minhashLsh(s, dir)
      .select(col("doc_b").as("doc_id")).distinct().withColumn("inf1", lit(1L))
    val fz = Dedup.decontaminateFuzzy(s, dir)
      .select(col("doc_id"), lit(1L).as("fz1"))
    val pii = Text.piiScrub(s, dir).select("doc_id", "n_emails", "n_phones")
    q.join(lang, "doc_id")
      .join(ex, Seq("doc_id"), "left")
      .join(inferior, Seq("doc_id"), "left")
      .join(fz, Seq("doc_id"), "left")
      .join(pii, "doc_id")
      .select(col("doc_id"),
        when(col("doc_id") >= Dedup.FuzzyBenchDocs, 1L).otherwise(0L).as("not_benchmark"),
        when(col("n_words") >= MinWords && col("quality_score") >= MinQuality, 1L)
          .otherwise(0L).as("pass_quality"),
        when(col("predicted_lang") =!= "unknown", 1L).otherwise(0L).as("pass_lang"),
        when(col("ex1").isNotNull, 1L).otherwise(0L).as("exact_survivor"),
        when(col("inf1").isNull, 1L).otherwise(0L).as("neardup_survivor"),
        when(col("fz1").isNull, 1L).otherwise(0L).as("not_contaminated"),
        when(col("n_emails") + col("n_phones") === 0, 1L).otherwise(0L).as("pii_clean"))
      .withColumn("keep", expr(
        """not_benchmark * pass_quality * pass_lang * exact_survivor
          | * neardup_survivor * not_contaminated * pii_clean""".stripMargin))
      .orderBy("doc_id")
  }

  // NOTE: assembled WITHOUT stripMargin — the embedded component SQL
  // contains lines that BEGIN with DuckDB's || concat operator, which a
  // composite-level stripMargin would eat (found the hard way).
  private val pipelineCurateFullSql =
    s"""WITH q AS (SELECT * FROM (${Text.qualitySql})),
l AS (SELECT * FROM (${Text.langIdSql})),
ex AS (SELECT * FROM (${Text.dedupExactSql})),
mh AS (SELECT * FROM (${Dedup.minhashSql})),
fz AS (SELECT * FROM (${Dedup.decontaminateFuzzySql})),
pii AS (SELECT * FROM (${Text.piiScrubSql})),
inf AS (SELECT DISTINCT doc_b AS doc_id FROM mh),
flags AS (
  SELECT b.doc_id,
    CASE WHEN b.doc_id >= ${Dedup.FuzzyBenchDocs} THEN 1 ELSE 0 END AS not_benchmark,
    CASE WHEN q.n_words >= $MinWords AND q.quality_score >= $MinQuality THEN 1 ELSE 0 END AS pass_quality,
    CASE WHEN l.predicted_lang <> 'unknown' THEN 1 ELSE 0 END AS pass_lang,
    CASE WHEN ex.survivor_doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_survivor,
    CASE WHEN inf.doc_id IS NULL THEN 1 ELSE 0 END AS neardup_survivor,
    CASE WHEN fz.doc_id IS NULL THEN 1 ELSE 0 END AS not_contaminated,
    CASE WHEN pii.n_emails + pii.n_phones = 0 THEN 1 ELSE 0 END AS pii_clean
  FROM documents b
  JOIN q ON q.doc_id = b.doc_id
  JOIN l ON l.doc_id = b.doc_id
  LEFT JOIN ex ON ex.survivor_doc_id = b.doc_id
  LEFT JOIN inf ON inf.doc_id = b.doc_id
  LEFT JOIN fz ON fz.doc_id = b.doc_id
  JOIN pii ON pii.doc_id = b.doc_id)
SELECT doc_id,
  CAST(not_benchmark AS BIGINT) AS not_benchmark,
  CAST(pass_quality AS BIGINT) AS pass_quality,
  CAST(pass_lang AS BIGINT) AS pass_lang,
  CAST(exact_survivor AS BIGINT) AS exact_survivor,
  CAST(neardup_survivor AS BIGINT) AS neardup_survivor,
  CAST(not_contaminated AS BIGINT) AS not_contaminated,
  CAST(pii_clean AS BIGINT) AS pii_clean,
  CAST(not_benchmark * pass_quality * pass_lang * exact_survivor
     * neardup_survivor * not_contaminated * pii_clean AS BIGINT) AS keep
FROM flags ORDER BY doc_id"""

  // ------------------------------------------------ corpus_source_stats
  // Per-SOURCE observability — the table a mixture decision (corpus_mix)
  // is actually made FROM: doc/token/language counts, corpus share, and
  // mean quality per source. Determinism: quality_score is bit-identical
  // cross-engine (text_quality's oracle hash proves it), so
  // floor(q·1e6) is an exact BIGINT per doc and the per-source SUM is
  // order-free — never a sum of raw doubles (SURVEY §5). One source-keyed
  // shuffle over the memoized Docs pass; the corpus total is a 1-row
  // broadcast.
  private def corpusSourceStats(s: SparkSession, dir: String): DataFrame = {
    val q = Text.withQualityCols(Docs.enriched(s, dir))
      .select(col("source"), col("lang"), col("n_words"),
        expr("cast(floor(quality_score * 1000000) as bigint)").as("q_micros"))
    val total = broadcast(q.agg(count(lit(1)).as("n_total")))
    q.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"),
        countDistinct("lang").as("n_langs"), sum("q_micros").as("sum_q_micros"))
      .crossJoin(total)
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        expr("sum_q_micros div n_docs").as("mean_q_micros"),
        expr("(n_docs * 1000000) div n_total").as("share_micros"))
      .orderBy("source")
  }

  // reuses Text.qualitySql verbatim so the floor(q*1e6) operand is the
  // SAME oracle-proven double text_quality hash-matches on
  private val corpusSourceStatsSql =
    s"""WITH tq AS (SELECT doc_id, n_words, quality_score FROM (${Text.qualitySql})),
       |q AS (
       |  SELECT d.source, d.lang, tq.n_words,
       |    CAST(floor(tq.quality_score * 1000000) AS BIGINT) AS q_micros
       |  FROM documents d JOIN tq ON tq.doc_id = d.doc_id),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM q)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(q_micros) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_q_micros,
       |  (CAST(count(*) AS BIGINT) * 1000000) // (SELECT n_total FROM t) AS share_micros
       |FROM q GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------ corpus_length_hist
  // Document-length distribution over power-of-two buckets — the
  // observability table behind min-length filters, packing-window sizing,
  // and truncation budgets. The bucket ladder is a FIXED CASE expression
  // (log2 is libm — banned by the cross-engine determinism rules; a
  // literal ladder is exact in both engines and bounded at 9 buckets);
  // aggregation is one shuffle on the bucket key, shares come off a 1-row
  // broadcast total.
  private val LenBounds = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 4096L)

  private def lenBucketCase(n: String): String = {
    val cases = (0L +: LenBounds).zip(LenBounds :+ Long.MaxValue).map {
      case (lo, hi) if hi != Long.MaxValue => s"WHEN $n < $hi THEN ${lo}L"
      case (lo, _) => s"ELSE ${lo}L"
    }
    s"CASE ${cases.init.mkString(" ")} ${cases.last} END"
  }

  private def corpusLengthHist(s: SparkSession, dir: String): DataFrame = {
    val n = Docs.enriched(s, dir)
      .select(expr("cast(size(toks) as bigint)").as("n_words"))
      .select(col("n_words"), expr(lenBucketCase("n_words")).as("bucket_lo"))
    val total = broadcast(n.agg(count(lit(1)).as("t_docs"), sum("n_words").as("t_tokens")))
    n.groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"))
      .crossJoin(total)
      .select(col("bucket_lo"), col("n_docs"), col("n_tokens"),
        expr("(n_docs * 1000000) div t_docs").as("doc_share_micros"),
        expr("(n_tokens * 1000000) div t_tokens").as("token_share_micros"))
      .orderBy("bucket_lo")
  }

  private def corpusLengthHistSql = {
    val caseSql = lenBucketCase("n_words").replace("L ", " ").replace("L\n", "\n")
      .replaceAll("(\\d)L", "$1")
    s"""WITH n AS (
       |  SELECT CAST(len(${Docs.toksDuck}) AS BIGINT) AS n_words FROM documents),
       |b AS (SELECT n_words, $caseSql AS bucket_lo FROM n),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS t_docs, CAST(sum(n_words) AS BIGINT) AS t_tokens FROM n)
       |SELECT bucket_lo, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |       (CAST(count(*) AS BIGINT) * 1000000) // (SELECT t_docs FROM t) AS doc_share_micros,
       |       (CAST(sum(n_words) AS BIGINT) * 1000000) // (SELECT t_tokens FROM t) AS token_share_micros
       |FROM b GROUP BY bucket_lo ORDER BY bucket_lo""".stripMargin
  }

  // ------------------------------------------------ corpus_split_safe
  // LEAKAGE-SAFE train/val/test split: the split hash keys on the
  // near-dup CLUSTER's canonical id, not the document id, so a document
  // and its near-duplicates always land in the SAME split — the
  // evaluation-leakage rule from the dedup literature (a val doc whose
  // near-copy sits in train is a leaked answer). Buckets are md5-long64
  // mod 100 (deterministic, engine-identical, no RNG): <90 train,
  // 90-94 val, 95+ test. One join against the memoized cluster labels;
  // the output is per-doc and the spec pins that no cluster straddles
  // splits.
  private def corpusSplitSafe(s: SparkSession, dir: String): DataFrame = {
    val assign = Dedup.dedupCluster(s, dir).select("doc_id", "canon_id")
    assign
      .withColumn("bucket", pmod(md5Long64(concat(lit("split_"), col("canon_id"))), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 90L, "train").when(col("bucket") < 95L, "val").otherwise("test"))
      .select("doc_id", "canon_id", "bucket", "split")
      .orderBy("doc_id")
  }

  private def corpusSplitSafeSql =
    s"""WITH assign AS (
       |  SELECT doc_id, canon_id FROM (${Dedup.clusterSql}))
       |SELECT doc_id, canon_id,
       |  ${md5Long64Sql("'split_' || CAST(canon_id AS VARCHAR)")} % 100 AS bucket,
       |  CASE WHEN ${md5Long64Sql("'split_' || CAST(canon_id AS VARCHAR)")} % 100 < 90 THEN 'train'
       |       WHEN ${md5Long64Sql("'split_' || CAST(canon_id AS VARCHAR)")} % 100 < 95 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM assign
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- curate_importance_sample
  // Deterministic IMPORTANCE resampling — keep each document with
  // probability equal to its quality score, with no RNG: keep iff
  // md5-long64('imp_'+doc_id) mod 1e6 < floor(quality·1e6). The hash is
  // uniform and independent of quality, so the kept set is an exact
  // quality-weighted downsample, reproducible across engines, retries,
  // and cluster sizes (the sample_stratified determinism convention
  // applied to per-doc weights). Scan-local per doc — no shuffle beyond
  // the memoized quality pass.
  private def importanceSample(s: SparkSession, dir: String): DataFrame =
    Text.quality(s, dir).select(col("doc_id"), col("quality_score"))
      .withColumn("q_micros", floor(col("quality_score") * 1000000).cast("long"))
      .withColumn("h_micros", pmod(md5Long64(concat(lit("imp_"), col("doc_id"))), lit(1000000L)))
      .withColumn("keep", when(col("h_micros") < col("q_micros"), 1L).otherwise(0L))
      .select("doc_id", "q_micros", "h_micros", "keep")
      .orderBy("doc_id")

  private def importanceSampleSql =
    s"""WITH q AS (SELECT doc_id, quality_score FROM (${Text.qualitySql})),
       |w AS (
       |  SELECT doc_id,
       |    CAST(floor(quality_score * 1000000) AS BIGINT) AS q_micros,
       |    ${md5Long64Sql("'imp_' || CAST(doc_id AS VARCHAR)")} % 1000000 AS h_micros
       |  FROM q)
       |SELECT doc_id, q_micros, h_micros,
       |  CASE WHEN h_micros < q_micros THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
       |FROM w ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ corpus_token_budget
  // "The best N tokens": greedy document selection under a token budget,
  // ranked by (quality desc, doc_id) — the curation primitive behind
  // "train on the top 30% of the corpus by quality". A doc is selected
  // iff its inclusive cumulative token count in rank order fits the
  // budget (BudgetPermille of total corpus tokens — corpus-relative so
  // the op is meaningful at every SF).
  //
  // Scale shape: the global rank-order prefix sum NEVER runs as one
  // window. Scores are exact integers on a bounded micro scale, so docs
  // band by `q_int div BandWidth` (~100 bands): a PARTITIONED window per
  // band computes local prefixes (band partitions are corpus-fraction
  // sized, the corpus_pack bucket-window cost class — a degenerate
  // all-one-score corpus would concentrate them, the same way adversarial
  // md5 collisions would concentrate corpus_pack's buckets), and band
  // offsets come from a window over the ~100 band TOTALS (bounded,
  // broadcast back). Selection compares cum*1000 <= total*BudgetPermille
  // in exact BIGINTs — no division, both engines agree bit-for-bit.
  private[graft] val BudgetPermille = 300L
  private val BandWidth = 10000L // micro-score bands: ~100 over the 1e6 score space
  private def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val dq = docsQInt(s, dir)
      .select(col("doc_id"), col("n_words").as("n_tokens"), col("q_int"))
    val total = dq.agg(sum("n_tokens").as("t"))
    val banded = dq.withColumn("band", expr(s"q_int div $BandWidth"))
    val wLocal = Window.partitionBy("band").orderBy(col("q_int").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = banded.withColumn("local_cum", sum("n_tokens").over(wLocal))
    val offsets = banded.groupBy("band").agg(sum("n_tokens").as("bt"))
      .withColumn("band_start", coalesce(
        sum("bt").over(Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("band", "band_start")
    local.join(broadcast(offsets), "band")
      .crossJoin(broadcast(total))
      .withColumn("cum_tokens", col("band_start") + col("local_cum"))
      .withColumn("selected",
        (col("cum_tokens") * lit(1000L) <= col("t") * lit(BudgetPermille)).cast("long"))
      .select("doc_id", "q_int", "n_tokens", "cum_tokens", "selected")
      .orderBy("doc_id")
  }

  private val tokenBudgetSql =
    s"""WITH t0 AS (
       |  SELECT doc_id, ${Docs.toksDuck} AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS BIGINT) AS n_words,
       |         CAST(len(list_filter(toks, x -> x IN ${Text.inList(Text.StopEn)})) AS BIGINT) AS n_stop,
       |         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len
       |  FROM t0 WHERE len(toks) >= 1),
       |dq AS (SELECT doc_id, n_words AS n_tokens, $qIntDuck AS q_int FROM m),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM dq),
       |c AS (
       |  SELECT doc_id, q_int, n_tokens,
       |         CAST(sum(n_tokens) OVER (ORDER BY q_int DESC, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM dq)
       |SELECT doc_id, q_int, n_tokens, cum_tokens,
       |  CASE WHEN cum_tokens * 1000 <= tot.t * $BudgetPermille
       |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS selected
       |FROM c, tot ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus_epoch_plan
  // Multi-EPOCH mixture planning with bounded upsampling — the published
  // data-mixing discipline behind "repeat low-resource languages up to k
  // epochs" (corpus_mix's complement: mix downsamples an over-supplied
  // language, THIS op plans repetition for an under-supplied one). Given
  // the corpus-relative token budget T = BudgetX x total corpus tokens
  // and the target language weights, each language gets
  //   target   = (T * wt) div 100                    (exact BIGINT)
  //   epochs   = least(MaxEpochs, target div avail)  (full passes)
  //   residual = the leftover as a permille sampling rate of one more
  //              pass — zero once the MaxEpochs repetition cap binds
  //              (the cap protects against memorizing a tiny language,
  //              so the plan reports the un-servable DEFICIT instead of
  //              silently over-repeating)
  //   planned  = epochs*avail + (avail*residual) div 1000
  // Every quantity is integer division on exact token counts — the two
  // engines agree bit-for-bit with no rounding discipline needed.
  //
  // Scale shape: ONE corpus scan (size of the shared toks split) into a
  // language-cardinality partial agg; all planning math runs on the
  // ~5-row frame with a 1-row total broadcast (the corpus_token_budget
  // crossJoin pattern, ScaleSpec-exempted by name). Nothing else touches
  // document rows — the op is a metadata-scale calculator over one scan.
  private val MaxEpochs = 4L
  private val BudgetX = 2L // plan for a 2x-corpus token budget

  private def epochPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // avail_tokens > 0 guard (ADVICE r10): a language whose documents all
    // tokenize empty would otherwise divide by zero — NULL in Spark's
    // non-ANSI `div` but a hard error in DuckDB, a cross-engine
    // divergence. An empty-token language has nothing to repeat, so the
    // plan excludes it (its 0 contributes nothing to the total either
    // way); the filter is identical in both engines.
    val perLang = graft.Tables.load(s, dir, "documents")
      .select(col("lang"), expr(s"cast(size(${Docs.toksSpark}) as bigint)").as("n"))
      .groupBy("lang").agg(sum("n").as("avail_tokens"))
      .filter(col("avail_tokens") > 0)
    val total = perLang.agg(sum("avail_tokens").as("total_tokens"))
    perLang.join(broadcast(MixWeights.toDF("lang", "wt")), "lang")
      .crossJoin(broadcast(total))
      .withColumn("target_tokens", expr(s"(total_tokens * $BudgetX * wt) div 100"))
      .withColumn("full_epochs",
        least(lit(MaxEpochs), expr("target_tokens div avail_tokens")))
      .withColumn("residual_permille", expr(
        s"""case when full_epochs < $MaxEpochs
           |  then least(1000L, ((target_tokens - full_epochs * avail_tokens) * 1000) div avail_tokens)
           |  else 0L end""".stripMargin))
      .withColumn("planned_tokens",
        expr("full_epochs * avail_tokens + (avail_tokens * residual_permille) div 1000"))
      .withColumn("deficit_tokens", expr("target_tokens - planned_tokens"))
      .select("lang", "avail_tokens", "target_tokens", "full_epochs",
        "residual_permille", "planned_tokens", "deficit_tokens")
      .orderBy("lang")
  }

  private val epochPlanSql =
    s"""WITH w(lang, wt) AS (VALUES ${MixWeights.map { case (l, p) => s"('$l', $p)" }.mkString(", ")}),
       |pl AS (
       |  SELECT lang, avail_tokens FROM (
       |    SELECT lang, CAST(sum(len(${Docs.toksDuck})) AS BIGINT) AS avail_tokens
       |    FROM documents GROUP BY lang) WHERE avail_tokens > 0),
       |tot AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS total_tokens FROM pl),
       |e AS (
       |  SELECT p.lang, p.avail_tokens,
       |         CAST((tot.total_tokens * $BudgetX * w.wt) // 100 AS BIGINT) AS target_tokens
       |  FROM pl p JOIN w USING (lang), tot),
       |f AS (
       |  SELECT *, CAST(least($MaxEpochs, target_tokens // avail_tokens) AS BIGINT) AS full_epochs
       |  FROM e),
       |r AS (
       |  SELECT *, CAST(CASE WHEN full_epochs < $MaxEpochs
       |    THEN least(1000, ((target_tokens - full_epochs * avail_tokens) * 1000) // avail_tokens)
       |    ELSE 0 END AS BIGINT) AS residual_permille FROM f)
       |SELECT lang, avail_tokens, target_tokens, full_epochs, residual_permille,
       |  CAST(full_epochs * avail_tokens + (avail_tokens * residual_permille) // 1000 AS BIGINT) AS planned_tokens,
       |  CAST(target_tokens - (full_epochs * avail_tokens + (avail_tokens * residual_permille) // 1000) AS BIGINT) AS deficit_tokens
       |FROM r ORDER BY lang""".stripMargin

  // ------------------------------------------------ corpus_zipf_check
  // Zipf rank-frequency conformance over the corpus vocabulary — the
  // distribution-drift detector for degenerate corpora (natural language
  // keeps freq_r ≈ freq_1 / r; template spam, model-generated loops and
  // mode-collapsed synthetic data don't). Reports the top ZipfTopK terms
  // by (frequency desc, term asc — deterministic tie-break) with rank,
  // exact count, and the exact-integer conformance ratio
  // observed/ideal = (freq_r · rank · 1e6) div freq_1 in micro-units
  // (1e6 = perfect Zipf; the §5 rules ban a libm log-log slope fit, and
  // the per-rank ratio table is MORE actionable than one slope anyway).
  // Products go through DECIMAL(38,0)/HUGEINT — freq · rank · 1e6
  // overflows int64 once a term passes ~1.8e11 occurrences.
  //
  // Scale shape: ONE explode→groupBy term-count shuffle (output is
  // vocabulary-scale), the global top-K is the salted two-phase form
  // (merge window sees ≤ 32·K rows), and freq_1 joins back as a 1-row
  // broadcast onto the K-bounded frame.
  private val ZipfTopK = 50

  private def zipfCheck(s: SparkSession, dir: String): DataFrame = {
    val counts = Docs.enriched(s, dir)
      .select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val top = graft.dv.Scale.saltedTopK(counts, Seq.empty,
      Seq(col("freq").desc, col("term")), xxhash64(col("term")), ZipfTopK)
    val f1 = top.filter(col("rank") === 1).select(col("freq").as("freq_1"))
    top.crossJoin(broadcast(f1))
      .select(col("rank").cast("long").as("rank"), col("term"), col("freq"),
        expr("cast(cast(freq as decimal(38,0)) * rank * 1000000 div freq_1 as bigint)")
          .as("zipf_ratio_micro"))
      .orderBy("rank")
  }

  private val zipfCheckSql =
    s"""WITH tf AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(${Docs.toksDuck}) AS term FROM documents)
       |  GROUP BY term),
       |ranked AS (
       |  SELECT term, freq,
       |         CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank
       |  FROM tf),
       |top AS (SELECT * FROM ranked WHERE rank <= $ZipfTopK),
       |f1 AS (SELECT freq AS freq_1 FROM top WHERE rank = 1)
       |SELECT rank, term, freq,
       |       CAST((CAST(freq AS HUGEINT) * rank * 1000000) // freq_1 AS BIGINT)
       |         AS zipf_ratio_micro
       |FROM top, f1 ORDER BY rank""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("corpus_zipf_check", zipfCheck, Some(zipfCheckSql)),
    QueryDef("corpus_epoch_plan", epochPlan, Some(epochPlanSql)),
    QueryDef("corpus_token_budget", tokenBudget, Some(tokenBudgetSql)),
    QueryDef("corpus_split_safe", corpusSplitSafe, Some(corpusSplitSafeSql)),
    QueryDef("curate_importance_sample", importanceSample, Some(importanceSampleSql)),
    QueryDef("corpus_length_hist", corpusLengthHist, Some(corpusLengthHistSql)),
    QueryDef("corpus_source_stats", corpusSourceStats, Some(corpusSourceStatsSql)),
    QueryDef("pipeline_curate_full", pipelineCurateFull, Some(pipelineCurateFullSql)),
    QueryDef("sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    QueryDef("corpus_mix", corpusMix, Some(corpusMixSql)),
    QueryDef("curate_prune_quality", prunQuality, Some(prunQualitySql)),
    QueryDef("pipeline_curate", pipelineCurate, Some(pipelineCurateSql)),
    QueryDef("text_lm_score", lmScore, Some(lmScoreSql)),
    QueryDef("decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("vocab_growth", vocabGrowth, Some(vocabGrowthSql)),
    QueryDef("corpus_shards", corpusShards, Some(corpusShardsSql)),
    QueryDef("corpus_pack", corpusPack, Some(corpusPackSql)),
    QueryDef("corpus_pack_write", corpusPackWrite, Some(corpusPackWriteSql)),
    QueryDef("corpus_pack_segments", corpusPackSegments, Some(corpusPackSegmentsSql)),
    QueryDef("corpus_health", corpusHealth, Some(corpusHealthSql))
  )
}
