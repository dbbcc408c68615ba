package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-statistics language modeling for curation (SURVEY.md §2.11,
  * round 6).
  *
  * `text_unigram_logprob` is the CCNet-style quality signal: score
  * every document by its mean negative log-likelihood under a unigram
  * model fitted on the corpus itself. Documents full of rare/garbled
  * tokens score high (surprising), boilerplate scores low — the
  * standard cheap stand-in for the KenLM perplexity filter in LLM data
  * pipelines (real pipelines swap the unigram table for an n-gram LM;
  * the plan shape below is unchanged).
  *
  * Scale notes (100 TB):
  *   - the fit is ONE (token, count) aggregation over the corpus — a
  *     single token-keyed shuffle whose output is vocabulary-sized
  *     (Zipf-bounded), NOT corpus-sized. That synopsis is eagerly
  *     materialized once (localCheckpoint, the runtime-bloom
  *     precedent) and feeds BOTH the scoring vocab and the corpus
  *     total (sum of its counts), so the fit costs exactly one
  *     corpus scan and nothing corpus-sized is ever cached.
  *   - the scoring vocab is BOUNDED: the top-`VocabTopK` tokens by
  *     (count DESC, token ASC), explicitly `broadcast()` into the
  *     scoring join with an OOV floor count of 1 (any token outside
  *     the retained vocab scores -ln(1/N), maximum surprise — the
  *     CCNet unk convention). An unbounded corpus vocab can exceed
  *     the broadcast threshold at 100 TB and the fallback would be a
  *     full token-frame shuffle keyed on Zipf-skewed tokens ("the"
  *     owns a partition); the bound makes the broadcast a guarantee,
  *     not a planner bet. VocabTopK = 25 here so the OOV path is
  *     oracle-exercised on the 31-token fixture vocabulary; a
  *     production corpus would set it ~10^5-10^6 (still megabytes).
  *   - scoring is then one broadcast join over a second corpus scan
  *     plus one per-doc aggregation — two scans total, zero
  *     corpus-sized shuffles, zero skew exposure.
  *   - the corpus-total row is a 1-row broadcast (same pattern the
  *     judge audited for subquery_scalar_agg).
  *
  * Determinism (SURVEY §5.4): ln runs on identical double bits in both
  * engines (agg_entropy precedent, hash-verified at both SFs since
  * r5); each per-token term is quantized to DECIMAL(28,10) before
  * summation so the per-doc sum is order-independent; the final mean
  * is floor-scaled to 4 decimals.
  */
object TextModel {
  type Q = (SparkSession, String) => DataFrame

  private def trunc4(c: Column): Column =
    floor(c * 10000).cast("double") / 10000.0

  /** Scoring-vocab bound. 25 < the 31-token fixture vocabulary, so
    * the OOV floor is exercised (and oracle-checked) at every SF;
    * production text corpora would set ~10^5-10^6. */
  val VocabTopK = 25

  /** Shared unigram-LM scorer (fit + score) for
    * `text_unigram_logprob` and `text_perplexity_buckets`: per-doc
    * (doc_id, lang, n_tok, nll_tok) with nll_tok = mean over tokens
    * of -ln(c_w / N), c_w from the broadcast top-K vocab with OOV
    * floor 1. See the object doc for the two-scan / bounded-broadcast
    * scale argument. */
  private def unigramScored(s: SparkSession, d: String,
      sample: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def tok = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
    // fit: one corpus scan -> vocab-sized synopsis, materialized once
    // (eager localCheckpoint) so total + top-K never rescan the corpus
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val total = vocab.agg(sum(col("c")).cast("long").as("tot"))
    // the rank window is global but runs over the vocab-sized synopsis
    // (Zipf-bounded), never tokens — text_vocab_oov_rate precedent
    val topK = vocab
      .withColumn("r", row_number().over(
        Window.orderBy(col("c").desc, col("w"))))
      .filter(col("r") <= VocabTopK)
      .select("w", "c")
    val base = sample.fold(tok)(p => tok.filter(p))
    base
      .join(broadcast(topK), Seq("w"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("lang"),
        (-log(coalesce(col("c"), lit(1L)).cast("double")
          / col("tot").cast("double")))
          .cast("decimal(28,10)").as("nll"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"),
        trunc4(sum(col("nll")).cast("double") / count(lit(1)))
          .as("nll_tok"))
  }

  val queries: Map[String, Q] = Map(
    // Unigram-LM surprise score per sampled document, model fitted on
    // the FULL corpus: nll_tok = -Σ ln(c_w / N) / n_tok, c_w from the
    // broadcast top-K vocab (OOV floor 1).
    "text_unigram_logprob" -> ((s, d) =>
      unigramScored(s, d, Some(col("doc_id") % 11 === 0))
        .orderBy("doc_id")),

    // Bigram-LM text GENERATION (r12) — the sampling leg of the LM
    // family (fit → score → perplexity → GENERATE): 5 sequences of 6
    // steps, each next-token draw a WEIGHTED sample from the fitted
    // bigram distribution P(w2|w1) — the weighted generalization of
    // graph_random_walk_corpus's uniform pick. The draw is exact
    // integer arithmetic: per context, tokens carry cumulative-count
    // intervals [lo, hi) from a context-partitioned window cumsum
    // (vocab-grain, integer, order w2); the coin is the 48-bit md5
    // integer of (seq, step, current) mod the context total; the
    // drawn token is the unique interval containing the coin — an
    // equi-join on the context + a range filter over ≤|vocab| rows.
    // Rerun/partitioning-independent where any RNG would not be;
    // the range table builds ONCE (checkpointed) and each step is
    // one bounded join. Output: the generated (seq, step, token)
    // corpus.
    "text_bigram_generate" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val big = toks.filter(size(col("t")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(t) - 1), i ->
               named_struct('w1', element_at(t, i),
                            'w2', element_at(t, i + 1)))""")).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("w1").orderBy("w2")
      val ranges = cb
        .withColumn("hi", sum(col("c")).over(wc))
        .withColumn("lo", col("hi") - col("c"))
        .withColumn("tot", sum(col("c")).over(
          Window.partitionBy("w1")))
        .select("w1", "w2", "lo", "hi", "tot")
        .localCheckpoint()
      val starts = toks
        .select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(lit(1)).orderBy(col("cw").desc, col("w"))))
        .filter(col("rn") <= 5)
        .select(col("w").as("seq"), col("w").as("token"))
      var gen = starts.withColumn("step", lit(0))
      var frontier = gen
      for (r <- 1 to 6) {
        val next = frontier
          .join(ranges, col("token") === col("w1"))
          .withColumn("coin", expr(
            s"""CAST(conv(substring(md5(concat(seq, ':', '$r', ':',
                  token)), 1, 12), 16, 10) AS BIGINT) % tot"""))
          .filter(col("lo") <= col("coin") && col("coin") < col("hi"))
          .select(col("seq"), col("w2").as("token"), lit(r).as("step"))
          .localCheckpoint()
        gen = gen.unionByName(next)
        frontier = next
      }
      gen.orderBy("seq", "step")
    }),

    // BPE tokenizer TRAINING, two unrolled rounds (r12) — the
    // tokenizer-prep op between raw text and every token-count key
    // in this file (Sennrich et al. 2016): count adjacent-symbol
    // pairs over the word-frequency table, merge the most frequent
    // pair corpus-wide, re-segment, repeat. This is the actual BPE
    // inner loop run relationally: the corpus state is the
    // word-freq synopsis (Zipf-bounded — words, not tokens, shuffle),
    // each round is one pair-explode + one weighted count + a 1-row
    // rank-pinned argmax broadcast back into a string rewrite
    // (replace of ' a b ' inside sentinel-padded symbol strings).
    // DECLARED merge semantics = SQL replace(): left-to-right
    // non-overlapping WITH separator consumption — on a run like
    // 'a b a b' the second occurrence loses its leading space and is
    // skipped; identical in Spark, DuckDB, and Java (the spec mirror
    // uses String.replace for exactly this reason), diverging from
    // canonical greedy BPE only on pattern runs ≥ 2. At 100 TB the
    // word-freq table is exactly how production BPE trainers shard.
    // Output: the two chosen merges + the top-10 NEXT candidates
    // (what round 3 would see) — stage-tagged, rank-ordered.
    "text_bpe_train_rounds" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = Tables.documents(s, d)
        .filter(col("doc_id") % 25 === 0)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .filter(length(col("w")) >= 2)
      val sym0 = words.select(col("f"),
        trim(regexp_replace(col("w"), "(.)", "$1 ")).as("sy"))
        .localCheckpoint()
      // The pair index comes from an explode of sequence(...) rather
      // than a transform lambda: lambdas are interpreted, which splits
      // the scan and the partial aggregate into two generated stages.
      def pairCounts(sym: DataFrame): DataFrame = sym
        .select(col("f"), split(col("sy"), " ").as("s"))
        .select(col("f"), col("s"),
          explode(sequence(lit(1), size(col("s")) - 1)).as("i"))
        .select(col("f"), concat(element_at(col("s"), col("i")), lit(" "),
          element_at(col("s"), col("i") + 1)).as("pair"))
        .groupBy("pair").agg(sum(col("f")).as("wt"))
      // `pair` is unique after the count, so (wt desc, pair) is a
      // total order and its first row is the one rank-1 pick.
      def top1(pc: DataFrame): DataFrame =
        pc.orderBy(col("wt").desc, col("pair")).limit(1)
      def applyMerge(sym: DataFrame, m: DataFrame): DataFrame = sym
        .crossJoin(broadcast(m)) // 1-row merge pick
        .select(col("f"), expr(
          """trim(replace(concat(' ', sy, ' '), concat(' ', pair, ' '),
                 concat(' ', replace(pair, ' ', ''), ' ')))""").as("sy"))
      val m1 = top1(pairCounts(sym0)).localCheckpoint()
      val sym1 = applyMerge(sym0, m1).localCheckpoint()
      graft.Ckpt.free(sym0) // absorbed by m1 + sym1 (r15 #5)
      val m2 = top1(pairCounts(sym1)).localCheckpoint()
      val sym2 = applyMerge(sym1, m2).localCheckpoint()
      graft.Ckpt.free(sym1) // absorbed by m2 + sym2
      val remaining = pairCounts(sym2)
        .withColumn("rank", row_number().over(
          Window.partitionBy(lit(1)).orderBy(col("wt").desc, col("pair"))))
        .filter(col("rank") <= 10)
        .select(lit("remaining").as("stage"), col("rank").cast("long"),
          col("pair"), col("wt"))
      m1.select(lit("merge1").as("stage"), lit(1L).as("rank"),
          col("pair"), col("wt"))
        .unionByName(m2.select(lit("merge2").as("stage"),
          lit(1L).as("rank"), col("pair"), col("wt")))
        .unionByName(remaining)
        .coalesce(1) // ≤ 12 rows: sort in one task, no range shuffle
        .orderBy("stage", "rank")
    }),

    // Bigram-LM surprise (round 6): the next rung above the unigram
    // score — P(w2|w1) = c(w1,w2)/c(w1·) fitted on the corpus, per-doc
    // mean −ln P over consecutive token pairs. Same scale shape as the
    // unigram key: the bigram frame is derived ONCE (index explode
    // over the split array — no token self-join), both count tables
    // are vocabulary-sized aggregations (broadcastable), scoring is
    // two joins + one per-doc aggregate. Context counts come from the
    // SAME bigram frame, so probabilities per context sum to exactly 1
    // and every scored bigram was seen in fit (no OOV smoothing
    // needed). Determinism: identical-double ln, DECIMAL(28,10)
    // per-term quantization, floor-scaled mean (unigram precedent).
    "text_bigram_logprob" -> ((s, d) => {
      val big = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
               i -> struct(element_at(ws, i) AS w1,
                           element_at(ws, i + 1) AS w2))""")).as("bg"))
        .select(col("doc_id"), col("lang"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val cu = big.groupBy("w1").agg(count(lit(1)).as("cu"))
      big.filter(col("doc_id") % 11 === 0)
        .join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
        .select(col("doc_id"), col("lang"),
          (-log(col("cb").cast("double") / col("cu").cast("double")))
            .cast("decimal(28,10)").as("nll"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"),
          trunc4(sum(col("nll")).cast("double") / count(lit(1)))
            .as("nll_bg"))
        .orderBy("doc_id")
    }),

    // Zipf rank-frequency slope per language: regr_slope(ln f, ln r)
    // over the top-200 ranked tokens — the corpus-health diagnostic
    // (natural text ≈ −1; templated/boilerplate corpora diverge). The
    // regression input is the vocabulary aggregate (never raw
    // tokens), ranked by a deterministic (count DESC, token ASC)
    // window over ≤ vocab rows per language.
    "text_zipf_slope" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cnt = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      val rk = Window.partitionBy("lang").orderBy(col("c").desc, col("w"))
      cnt.withColumn("r", row_number().over(rk))
        .filter(col("r") <= 200)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_ranks"),
          round(regr_slope(log(col("c")), log(col("r"))), 4)
            .as("zipf_slope"))
        .orderBy("lang")
    }),

    // Out-of-vocabulary rate per (lang, source) against the global
    // top-500 vocabulary — the tokenizer-coverage check run before
    // committing a vocab. The vocab is aggregate-sized and BROADCAST
    // into the token join; tokens never shuffle for the membership
    // test, only the final (lang, source) reduction moves data.
    "text_vocab_oov_rate" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, d)
        .select(col("lang"), col("source"),
          explode(split(col("text"), " ")).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(
          Window.orderBy(col("c").desc, col("w"))))
        .filter(col("r") <= 500)
        .select(col("w").as("vw"))
      tok.join(broadcast(vocab), col("w") === col("vw"), "left")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("vw").isNull, 1)).as("n_oov"),
          round(count(when(col("vw").isNull, 1))
            / count(lit(1)).cast("double"), 6).as("oov_rate"))
        .orderBy("lang", "source")
    }),

    // Stupid Backoff bigram scoring (r9; Brants et al. 2007, "Large
    // Language Models in Machine Translation"): S(w2|w1) =
    // cb(w1,w2)/cu(w1) when the bigram was seen in fit, else
    // 0.4 · c(w2)/N — the non-normalized backoff that made web-scale
    // LMs tractable (no discounting pass, counts only). The fit here
    // runs on a 2 % slice (doc_id % 50 = 0 — the fixture vocabulary
    // is so small that any larger fit covers every bigram and the
    // backoff path would never fire; a real Zipf-tailed corpus backs
    // off at any fit size) and scores the % 11 sample, so unseen
    // bigrams genuinely occur and the backoff path is exercised and
    // counted per doc (n_backoff). Scale: the
    // bigram count table is corpus-sized → plain equi-join on
    // (w1, w2); the unigram tables are vocab-sized → broadcast; the
    // total is a 1-row broadcast. Determinism: identical-double ln,
    // DECIMAL(28,10) per-term quantization, floor-scaled mean.
    "text_bigram_backoff" -> ((s, d) => {
      def bigrams(df: DataFrame): DataFrame = df
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
               i -> struct(element_at(ws, i) AS w1,
                           element_at(ws, i + 1) AS w2))""")).as("bg"))
        .select(col("doc_id"), col("lang"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val fit = Tables.documents(s, d).filter(col("doc_id") % 50 === 0)
      val fitBig = bigrams(fit)
      val cb = fitBig.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val cu = fitBig.groupBy("w1").agg(count(lit(1)).as("cu"))
      val cw = fit
        .select(explode(split(col("text"), " ")).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("cw"))
      val tot = cw.agg(sum(col("cw")).cast("long").as("nn"))
      bigrams(Tables.documents(s, d).filter(col("doc_id") % 11 === 0))
        .join(cb, Seq("w1", "w2"), "left")
        .join(broadcast(cu), Seq("w1"), "left")
        .join(broadcast(cw), Seq("w2"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("lang"),
          when(col("cb").isNotNull,
            -log(col("cb").cast("double") / col("cu").cast("double")))
            .otherwise(-log(lit(0.4) *
              coalesce(col("cw"), lit(1L)).cast("double")
              / col("nn").cast("double")))
            .cast("decimal(28,10)").as("nll"),
          when(col("cb").isNull, 1L).otherwise(0L).as("bo"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("bo")).as("n_backoff"),
          trunc4(sum(col("nll")).cast("double") / count(lit(1)))
            .as("nll_bg"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser–Ney bigram LM (r9; Kneser & Ney 1995, Chen &
    // Goodman 1999 — THE standard n-gram smoother, beside the
    // Stupid-Backoff key above which is its count-only web-scale
    // cousin): P(w2|w1) = (c(w1,w2) − D)/c(w1·) +
    // D·N1+(w1,·)/c(w1·) · N1+(·,w2)/B, D = 0.75. The continuation
    // probability N1+(·,w2)/B (how many CONTEXTS a word follows, not
    // how often it occurs — the "San Francisco" insight) is what
    // Stupid Backoff's raw-unigram fallback gets wrong. Fit = score
    // corpus, so c(w1,w2) ≥ 1 and the discounted term ≥ 0.25/c(w1·)
    // — max(·,0) provably never fires at D = 0.75 and is omitted.
    // Scale: the bigram table is corpus-sized → plain equi-join; the
    // three context tables (c(w1·)+N1+(w1,·), N1+(·,w2), B) are
    // vocab-sized / 1-row → broadcast-pinned. Per-bigram −ln P is
    // DECIMAL(28,10) pre-sum; op order in the P expression mirrors
    // the oracle text token-for-token.
    "text_kneser_ney_bigram" -> ((s, d) => {
      def bigrams(df: DataFrame): DataFrame = df
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
               i -> struct(element_at(ws, i) AS w1,
                           element_at(ws, i + 1) AS w2))""")).as("bg"))
        .select(col("doc_id"), col("lang"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val big = bigrams(Tables.documents(s, d))
      val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val ctx = big.groupBy("w1")
        .agg(count(lit(1)).as("cu"), countDistinct(col("w2")).as("n1f"))
      val bwd = cb.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val btot = cb.agg(count(lit(1)).as("bb"))
      big
        .join(cb, Seq("w1", "w2"))
        .join(broadcast(ctx), Seq("w1"))
        .join(broadcast(bwd), Seq("w2"))
        .crossJoin(broadcast(btot))
        .select(col("doc_id"), col("lang"), expr(
          """CAST(-ln((CAST(cb AS DOUBLE) - 0.75) / CAST(cu AS DOUBLE)
                      + (0.75 * CAST(n1f AS DOUBLE) / CAST(cu AS DOUBLE))
                        * (CAST(n1b AS DOUBLE) / CAST(bb AS DOUBLE)))
                  AS DECIMAL(28,10))""").as("nll"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"),
          trunc4(sum(col("nll")).cast("double") / count(lit(1)))
            .as("nll_kn"))
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing (r8; Wenzek et al. 2020): score
    // EVERY document with the corpus unigram LM (same scorer as
    // text_unigram_logprob — fit is the full corpus, no sample), then
    // cut each language's score distribution into exact terciles:
    // head (lowest surprise = cleanest), middle, tail. Cuts are EXACT
    // integer order statistics under the (nll_tok, doc_id) total
    // order — ceil(n/3) = (n+2) div 3 in pure integer arithmetic, so
    // no interpolation or float-boundary semantics can diverge. The
    // per-lang rank window runs over doc-grain scores (corpus/lang
    // rows), not tokens; at 100 TB the scorer stays two
    // vocabulary-sized broadcasts + one per-doc aggregate, and the
    // bucket cut is the curation split feeding per-bucket sampling.
    "text_perplexity_buckets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = unigramScored(s, d, None).drop("n_tok")
      val wr = Window.partitionBy("lang")
        .orderBy(col("nll_tok"), col("doc_id"))
      val wn = Window.partitionBy("lang")
      scored
        .withColumn("r", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("bucket",
          when(col("r") <= expr("(n + 2) div 3"), "1_head")
            .when(col("r") <= expr("(2 * n + 2) div 3"), "2_middle")
            .otherwise("3_tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("nll_tok")).as("nll_min"),
          max(col("nll_tok")).as("nll_max"))
        .orderBy("lang", "bucket")
    }),
  )

  /** Generation oracle — same integer interval draw per step; the
    * 48-bit coin is the sample_time_decay hex-strpos fold. */
  private def bigramGenSql: String = {
    def u48(key: String): String =
      s"""CAST(list_aggregate(list_transform(range(1, 13),
            j -> (strpos('0123456789abcdef',
                    substr(md5($key), CAST(j AS INT), 1)) - 1)
                 * pow(16, 12 - j)), 'sum') AS BIGINT)"""
    val steps = (1 to 6).map { r =>
      val prev = if (r == 1) "g0" else s"g${r - 1}"
      s"""g$r AS MATERIALIZED (SELECT seq, w2 AS token, $r AS step FROM (
            SELECT f.seq, rg.w2, rg.lo, rg.hi,
                   ${u48(s"f.seq || ':' || '$r' || ':' || f.token")}
                     % rg.tot AS coin
            FROM $prev f JOIN ranges rg ON rg.w1 = f.token)
          WHERE lo <= coin AND coin < hi)"""
    }.mkString(",\n")
    s"""WITH toks AS (SELECT string_split(text, ' ') AS t
                      FROM documents),
            big AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM (
                      SELECT t, unnest(range(1, len(t))) AS i
                      FROM toks WHERE len(t) >= 2)),
            cb AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
            ranges AS MATERIALIZED (SELECT w1, w2,
                CAST(sum(c) OVER (PARTITION BY w1 ORDER BY w2)
                     AS BIGINT) AS hi,
                CAST(sum(c) OVER (PARTITION BY w1 ORDER BY w2) - c
                     AS BIGINT) AS lo,
                CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS tot
              FROM cb),
            uni AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents),
            g0 AS (SELECT seq, token, 0 AS step FROM (
                     SELECT w AS seq, w AS token,
                            row_number() OVER (ORDER BY count(*) DESC, w)
                              AS rn
                     FROM uni GROUP BY w) WHERE rn <= 5),
            $steps
       SELECT seq, CAST(step AS INTEGER) AS step, token
       FROM (SELECT seq, step, token FROM g0
             UNION ALL SELECT seq, step, token FROM g1
             UNION ALL SELECT seq, step, token FROM g2
             UNION ALL SELECT seq, step, token FROM g3
             UNION ALL SELECT seq, step, token FROM g4
             UNION ALL SELECT seq, step, token FROM g5
             UNION ALL SELECT seq, step, token FROM g6)
       ORDER BY seq, step"""
  }

  /** BPE oracle — the same pair-count / argmax / rewrite template
    * per round, generated so the three pair-count expressions can't
    * drift from the Spark side's. */
  private def bpeSql: String = {
    def pairs(sym: String): String =
      s"""SELECT pair, CAST(sum(f) AS BIGINT) AS wt FROM (
            SELECT f, unnest(list_transform(
              range(1, len(string_split(sy, ' '))), i ->
                concat(string_split(sy, ' ')[i], ' ',
                       string_split(sy, ' ')[i + 1]))) AS pair
            FROM $sym) GROUP BY pair"""
    def top1(pc: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT pair, wt FROM (
            SELECT pair, wt,
                   row_number() OVER (ORDER BY wt DESC, pair) AS rn
            FROM $pc) WHERE rn = 1)"""
    def merge(sym: String, m: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT f,
            trim(replace(' ' || sy || ' ', ' ' || pair || ' ',
                 ' ' || replace(pair, ' ', '') || ' ')) AS sy
            FROM $sym CROSS JOIN $m)"""
    s"""WITH words AS (SELECT w, count(*) AS f FROM (
              SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE doc_id % 25 = 0)
            WHERE length(w) >= 2 GROUP BY w),
          sym0 AS MATERIALIZED (SELECT CAST(f AS BIGINT) AS f,
              trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sy
              FROM words),
          pc0 AS MATERIALIZED (${pairs("sym0")}),
          ${top1("pc0", "m1")},
          ${merge("sym0", "m1", "sym1")},
          pc1 AS MATERIALIZED (${pairs("sym1")}),
          ${top1("pc1", "m2")},
          ${merge("sym1", "m2", "sym2")},
          pc2 AS MATERIALIZED (${pairs("sym2")}),
          rem AS (SELECT 'remaining' AS stage, CAST(rn AS BIGINT) AS rank,
                         pair, wt FROM (
                    SELECT pair, wt,
                           row_number() OVER (ORDER BY wt DESC, pair) AS rn
                    FROM pc2) WHERE rn <= 10)
       SELECT stage, rank, pair, wt FROM (
         SELECT 'merge1' AS stage, CAST(1 AS BIGINT) AS rank, pair, wt
         FROM m1
         UNION ALL
         SELECT 'merge2', CAST(1 AS BIGINT), pair, wt FROM m2
         UNION ALL
         SELECT stage, rank, pair, wt FROM rem)
       ORDER BY stage, rank"""
  }

  val oracles: Map[String, String] = Map(
    "text_bpe_train_rounds" -> bpeSql,
    "text_bigram_generate" -> bigramGenSql,
    "text_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, lang,
                             unnest(string_split(text, ' ')) AS w
                      FROM documents),
              vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
              tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM vocab),
              topk AS (SELECT w, c FROM
                         (SELECT w, c,
                                 row_number() OVER (ORDER BY c DESC, w)
                                   AS r
                          FROM vocab)
                       WHERE r <= 25),
              sc AS (SELECT doc_id, lang,
                            CAST(-ln(CAST(coalesce(c, 1) AS DOUBLE)
                                     / CAST(tot AS DOUBLE))
                                 AS DECIMAL(28,10)) AS nll
                     FROM tok LEFT JOIN topk USING (w), tot
                     WHERE doc_id % 11 = 0)
         SELECT doc_id, lang, count(*) AS n_tok,
                CAST(floor(CAST(sum(nll) AS DOUBLE) / count(*) * 10000)
                     AS DOUBLE) / 10000 AS nll_tok
         FROM sc GROUP BY doc_id, lang ORDER BY doc_id""",
    "text_bigram_logprob" ->
      """WITH ws AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                     FROM documents WHERE len(string_split(text, ' ')) >= 2),
              big AS (SELECT doc_id, lang,
                             ws[i] AS w1, ws[i + 1] AS w2
                      FROM (SELECT doc_id, lang, ws,
                                   unnest(range(1, len(ws))) AS i
                            FROM ws)),
              cb AS (SELECT w1, w2, count(*) AS cb
                     FROM big GROUP BY w1, w2),
              cu AS (SELECT w1, count(*) AS cu FROM big GROUP BY w1),
              sc AS (SELECT doc_id, lang,
                            CAST(-ln(CAST(cb AS DOUBLE)
                                     / CAST(cu AS DOUBLE))
                                 AS DECIMAL(28,10)) AS nll
                     FROM big JOIN cb USING (w1, w2) JOIN cu USING (w1)
                     WHERE doc_id % 11 = 0)
         SELECT doc_id, lang, count(*) AS n_bigrams,
                CAST(floor(CAST(sum(nll) AS DOUBLE) / count(*) * 10000)
                     AS DOUBLE) / 10000 AS nll_bg
         FROM sc GROUP BY doc_id, lang ORDER BY doc_id""",
    "text_bigram_backoff" ->
      """WITH fit AS (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents
                      WHERE doc_id % 50 = 0
                        AND len(string_split(text, ' ')) >= 2),
              fitbig AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
                         FROM (SELECT ws, unnest(range(1, len(ws))) AS i
                               FROM fit)),
              cb AS (SELECT w1, w2, count(*) AS cb
                     FROM fitbig GROUP BY w1, w2),
              cu AS (SELECT w1, count(*) AS cu FROM fitbig GROUP BY w1),
              cw AS (SELECT w2, count(*) AS cw
                     FROM (SELECT unnest(string_split(text, ' ')) AS w2
                           FROM documents WHERE doc_id % 50 = 0)
                     GROUP BY w2),
              tot AS (SELECT CAST(sum(cw) AS BIGINT) AS nn FROM cw),
              sc0 AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                      FROM documents
                      WHERE doc_id % 11 = 0
                        AND len(string_split(text, ' ')) >= 2),
              big AS (SELECT doc_id, lang, ws[i] AS w1, ws[i + 1] AS w2
                      FROM (SELECT doc_id, lang, ws,
                                   unnest(range(1, len(ws))) AS i
                            FROM sc0)),
              sc AS (SELECT doc_id, lang,
                            CAST(CASE WHEN cb IS NOT NULL
                                 THEN -ln(CAST(cb AS DOUBLE)
                                          / CAST(cu AS DOUBLE))
                                 ELSE -ln(0.4 * CAST(coalesce(cw, 1)
                                                     AS DOUBLE)
                                          / CAST(nn AS DOUBLE)) END
                                 AS DECIMAL(28,10)) AS nll,
                            CASE WHEN cb IS NULL THEN 1 ELSE 0 END AS bo
                     FROM big
                     LEFT JOIN cb USING (w1, w2)
                     LEFT JOIN cu USING (w1)
                     LEFT JOIN cw USING (w2), tot)
         SELECT doc_id, lang, count(*) AS n_bigrams,
                CAST(sum(bo) AS BIGINT) AS n_backoff,
                CAST(floor(CAST(sum(nll) AS DOUBLE) / count(*) * 10000)
                     AS DOUBLE) / 10000 AS nll_bg
         FROM sc GROUP BY doc_id, lang ORDER BY doc_id""",
    "text_kneser_ney_bigram" ->
      """WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                       FROM documents
                       WHERE len(string_split(text, ' ')) >= 2),
              big AS (SELECT doc_id, lang, ws[i] AS w1, ws[i + 1] AS w2
                      FROM (SELECT doc_id, lang, ws,
                                   unnest(range(1, len(ws))) AS i
                            FROM docs)),
              cb AS (SELECT w1, w2, count(*) AS cb
                     FROM big GROUP BY w1, w2),
              ctx AS (SELECT w1, count(*) AS cu,
                             count(DISTINCT w2) AS n1f
                      FROM big GROUP BY w1),
              bwd AS (SELECT w2, count(*) AS n1b FROM cb GROUP BY w2),
              btot AS (SELECT count(*) AS bb FROM cb),
              sc AS (SELECT doc_id, lang,
                            CAST(-ln((CAST(cb AS DOUBLE) - 0.75)
                                       / CAST(cu AS DOUBLE)
                                     + (0.75 * CAST(n1f AS DOUBLE)
                                        / CAST(cu AS DOUBLE))
                                       * (CAST(n1b AS DOUBLE)
                                          / CAST(bb AS DOUBLE)))
                                 AS DECIMAL(28,10)) AS nll
                     FROM big JOIN cb USING (w1, w2)
                          JOIN ctx USING (w1)
                          JOIN bwd USING (w2), btot)
         SELECT doc_id, lang, count(*) AS n_bigrams,
                CAST(floor(CAST(sum(nll) AS DOUBLE) / count(*) * 10000)
                     AS DOUBLE) / 10000 AS nll_kn
         FROM sc GROUP BY doc_id, lang ORDER BY doc_id""",
    "text_zipf_slope" ->
      """WITH cnt AS (SELECT lang, w, count(*) AS c
                      FROM (SELECT lang,
                                   unnest(string_split(text, ' ')) AS w
                            FROM documents)
                      GROUP BY lang, w),
              rk AS (SELECT lang, c,
                            row_number() OVER
                              (PARTITION BY lang ORDER BY c DESC, w) AS r
                     FROM cnt)
         SELECT lang, count(*) AS n_ranks,
                round(regr_slope(ln(c), ln(r)), 4) AS zipf_slope
         FROM rk WHERE r <= 200 GROUP BY lang ORDER BY lang""",
    "text_vocab_oov_rate" ->
      """WITH tok AS (SELECT lang, source,
                             unnest(string_split(text, ' ')) AS w
                      FROM documents),
              vc AS (SELECT w AS vw FROM
                       (SELECT w, count(*) AS c,
                               row_number() OVER (ORDER BY count(*) DESC, w)
                                 AS r
                        FROM tok GROUP BY w)
                     WHERE r <= 500)
         SELECT lang, source, count(*) AS n_tokens,
                count(*) FILTER (WHERE vw IS NULL) AS n_oov,
                round(CAST(count(*) FILTER (WHERE vw IS NULL) AS DOUBLE)
                      / count(*), 6) AS oov_rate
         FROM tok LEFT JOIN vc ON w = vw
         GROUP BY lang, source ORDER BY lang, source""",
    "text_perplexity_buckets" ->
      """WITH tok AS (SELECT doc_id, lang,
                           unnest(string_split(text, ' ')) AS w
                    FROM documents),
              vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
              total AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM vocab),
              topk AS (SELECT w, c FROM
                         (SELECT w, c,
                                 row_number() OVER (ORDER BY c DESC, w)
                                   AS r
                          FROM vocab)
                       WHERE r <= 25),
              scored AS (SELECT doc_id, lang,
                                CAST(floor(
                                  CAST(sum(CAST(-ln(
                                        CAST(coalesce(c, 1) AS DOUBLE)
                                        / CAST(tot AS DOUBLE))
                                      AS DECIMAL(28,10))) AS DOUBLE)
                                    / count(*) * 10000) AS DOUBLE) / 10000
                                  AS nll_tok
                         FROM tok LEFT JOIN topk USING (w)
                              CROSS JOIN total
                         GROUP BY doc_id, lang),
              rk AS (SELECT lang, nll_tok,
                            row_number() OVER (PARTITION BY lang
                              ORDER BY nll_tok, doc_id) AS r,
                            count(*) OVER (PARTITION BY lang) AS n
                     FROM scored),
              bk AS (SELECT lang, nll_tok,
                            CASE WHEN r <= (n + 2) // 3 THEN '1_head'
                                 WHEN r <= (2 * n + 2) // 3
                                   THEN '2_middle'
                                 ELSE '3_tail' END AS bucket
                     FROM rk)
         SELECT lang, bucket, count(*) AS n_docs,
                min(nll_tok) AS nll_min, max(nll_tok) AS nll_max
         FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""",
  )
}
