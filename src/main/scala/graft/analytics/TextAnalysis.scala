package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token statistics, document fingerprinting. All are
  * single-projection plans (no shuffle) — they scale embarrassingly.
  */
object TextAnalysis {

  /** Tiny marker-word profiles for the n-gram/stopword language-ID
    * heuristic. Deterministic tie-break: first profile in this order wins.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "de", "y"),
    "fr" -> Seq("le", "les", "des", "et"))

  /** Language identification by marker-word hit counts. Emits one score
    * column per language plus the argmax prediction ("und" when no marker
    * hits at all).
    */
  def langId(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val scored = LangProfiles.foldLeft(docs.select(col("doc_id"), ws.as("ws"))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang",
          aggregate(col("ws"), lit(0),
            (acc, w) => acc + when(w.isInCollection(markers), 1).otherwise(0)))
    }
    val mx = greatest(LangProfiles.map(p => col(s"score_${p._1}")): _*)
    // argmax with deterministic tie-break: lexicographically-largest lang
    // among tied scores (the CASE checks langs in reverse-lex order).
    // foldLeft in lex order wraps later langs outermost, so the final CASE
    // checks fr, then es, then en, then de.
    val pick = LangProfiles.map(_._1).sorted
      .foldLeft(lit("und")) { (els, lang) =>
        when(col(s"score_$lang") === mx, lit(lang)).otherwise(els)
      }
    scored.withColumn("predicted", when(mx > 0, pick).otherwise(lit("und")))
      .drop("ws")
  }

  /** Quality scoring: length, stopword ratio, mean word length, type-token
    * ratio — all ratios are double divisions of exact ints.
    */
  def quality(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    docs.select(col("doc_id"), col("n_chars"), ws.as("ws"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stopwords", stopwordCount(col("ws")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("ws"))).cast("long"))
      .withColumn("stop_ratio",
        col("n_stopwords").cast("double") / col("n_words").cast("double"))
      .withColumn("avg_word_len",
        aggregate(col("ws"), lit(0), (acc, w) => acc + length(w)).cast("double") /
          col("n_words").cast("double"))
      .withColumn("ttr",
        col("n_distinct").cast("double") / col("n_words").cast("double"))
      .drop("ws")
  }

  /** Token counting: whitespace tokens + distinct counts. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    docs.select(col("doc_id"),
      size(ws).cast("long").as("n_tokens"),
      size(array_distinct(ws)).cast("long").as("n_types"))
  }

  /** BPE-style pre-tokenizer regex: letter runs, single digits, or single
    * punctuation marks — the GPT-2-ish segmentation shape, restricted to
    * constructs whose regex semantics are identical in Java and RE2-style
    * engines (so the oracle can reuse the pattern verbatim).
    */
  val BpeTokenPattern = "[a-z]+|[0-9]|[^a-z0-9 ]"

  /** Subword-ish token statistics from the BPE pre-tokenizer split:
    * token count, distinct-token count, and longest-token length.
    * Single projection — no shuffle.
    */
  def bpeTokenStats(docs: DataFrame): DataFrame = {
    val toks = expr(s"regexp_extract_all(lower(text), '$BpeTokenPattern', 0)")
    docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_bpe_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_bpe_types"),
        coalesce(array_max(transform(col("toks"), t => length(t))), lit(0))
          .cast("long").as("max_token_len"))
  }

  /** One real BPE-training merge iteration: the top-k adjacent
    * character-pair candidates, counted over the FREQUENCY-WEIGHTED
    * VOCABULARY — the property that makes BPE training cheap at corpus
    * scale: the corpus is scanned ONCE into a word-frequency table
    * (map-side-combined aggregate, vocabulary-sized output), and every
    * merge round after that iterates over the vocabulary only — pair
    * explosion, counting, and the top-k all run on vocab-sized data no
    * matter how many petabytes fed the frequency table. Top-k is a
    * TakeOrdered (never a global sort); count-desc then pair-asc makes
    * the boundary deterministic.
    */
  def bpeMergeCandidates(docs: DataFrame, k: Int = 20): DataFrame =
    initialVocab(wordUnits(docs))
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(k)

  /** Multi-round BPE TRAINER (round 9, VERDICT r8 missing #3 — the real
    * tokenizer-prep deliverable [[bpeMergeCandidates]]'s single iteration
    * previews): `rounds` greedy merge rounds over the frequency-weighted
    * vocabulary, exactly the Sennrich et al. 2016 training loop. Per
    * round: count adjacent token pairs weighted by word frequency, take
    * THE top pair (count desc, then (a, b) asc — a total order, so the
    * boundary is deterministic), apply it left-to-right inside every
    * word (a fresh merge output never re-merges with the next token in
    * the same round — standard BPE), repeat on the updated vocabulary.
    * This is [[bpeRounds]] at `batchM = 1, poolK = 1`: with one accepted
    * pair the batched merge IS the greedy left-to-right merge, an (a,a)
    * run included (Round11Spec pins the equivalence).
    *
    * Scale shape — why BPE training is tractable at 100 TB: the corpus
    * is scanned ONCE into the word-frequency table (map-side-combined,
    * vocabulary-sized output); every round after that touches only the
    * vocab — pair explosion ≤ Σ|word| rows, the top-1 a TakeOrdered, the
    * merge a per-row projection. The R merge rules themselves are the
    * k-row driver state every real BPE trainer keeps (each round's rule
    * parameterizes the next round's fold — inherently sequential), the
    * same bounded-driver-state contract as the k-means centroids.
    * Returns (round, pair_a, pair_b, merged, cnt) — the ordered merge
    * table a tokenizer ships.
    */
  def bpeTrain(docs: DataFrame, rounds: Int = 6): DataFrame =
    rulesDf(docs.sparkSession, greedyRounds(docs, rounds)._1).drop("sel_rank")

  /** The one-merge-per-round run behind [[bpeTrain]], [[bpeEncode]] and
    * [[persistBpeVocab]]. */
  private def greedyRounds(docs: DataFrame,
      rounds: Int): (Seq[BpeRule], DataFrame, Boolean) =
    bpeRounds(initialVocab(wordUnits(docs)), firstRound = 1, rounds,
      batchM = 1, poolK = 1, targetMerges = Int.MaxValue)

  /** BATCHED multi-round BPE trainer (VERDICT r9 next #6): [[bpeTrain]]
    * accepts ONE merge per round, so a production 32k-merge vocabulary
    * would cost 32k sequential Spark jobs. This one accepts up to
    * `batchM` token-disjoint merges per round (the acceptance rule in
    * [[bpeRounds]]) — 32k/batchM rounds — and stops at `targetMerges`
    * rules (a real tokenizer's stopping rule: vocab size, not round
    * count) or when the merge supply runs out. `units` is the
    * pre-tokenized `word` stream — [[wordUnits]], [[bigramUnits]] or
    * [[charChunkUnits]], each documenting why it exists. Round cost stays
    * vocab-sized: the pair explode is ≤ Σ|toks| rows and SHRINKS as
    * merges consume positions (the PLANS.md cost tables come from
    * [[lastRoundCosts]]); the pool is `poolK` driver rows per round.
    * Returns (round, sel_rank, pair_a, pair_b, merged, cnt).
    */
  def bpeTrainBatched(units: DataFrame, rounds: Int = 3, batchM: Int = 3,
      poolK: Int = 12, targetMerges: Int = Int.MaxValue): DataFrame =
    rulesDf(units.sparkSession, bpeRounds(initialVocab(units), firstRound = 1,
      rounds, batchM, poolK, targetMerges)._1)

  /** Whitespace pre-tokenization: the unit stream the word-level trainers
    * count frequencies over.
    */
  private[graft] def wordUnits(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))

  /** SentencePiece-style pre-tokenization for the PRODUCTION-DEPTH drive
    * (VERDICT r11 #3; `tx_bpe_train_scaled` trains it to 256 rules at
    * batchM = 8, ~32 driver-sequential rounds): consecutive word PAIRS
    * joined by "_" (odd tail kept alone) — tokens may cross word
    * boundaries, the no-hard-split discipline. Needed because the
    * synthetic corpus draws from a 30-word vocabulary whose word-internal
    * merge supply exhausts at 89 rules; two-word units lift the
    * distinct-unit space to ~|words|² and the merge supply into the
    * thousands while the frequency table stays unit-vocabulary-sized.
    */
  private[graft] def bigramUnits(docs: DataFrame): DataFrame =
    docs.select(split(col("text"), " ").as("ws"))
      .select(explode(expr(
        "transform(sequence(1, (size(ws) + 1) div 2), i -> " +
          "CASE WHEN i * 2 <= size(ws) " +
          "THEN concat(element_at(ws, CAST(i * 2 - 1 AS INT)), '_', " +
          "element_at(ws, CAST(i * 2 AS INT))) " +
          "ELSE element_at(ws, CAST(i * 2 - 1 AS INT)) END)")).as("word"))

  /** Fixed-width char-chunk pre-tokenization for the VOCAB-SCALE drive
    * (VERDICT r12 next #7): spaces become the SentencePiece word-boundary
    * marker `_` and the marked text splits into NON-overlapping `n`-char
    * chunks (ragged tail kept). Why this stream: [[bigramUnits]] over the
    * 30-word synthetic vocabulary saturates near 300 rules (two-word
    * units exhaust their internal pair supply), while char chunks make
    * the unit population phrase-combinatorial (~5.5 k distinct 8-char
    * chunks on the test corpus) with a merge supply in the thousands —
    * and because chunks cross word boundaries, the trained rules include
    * the `x_` / `_y` boundary merges a no-hard-split tokenizer learns.
    * Non-overlap keeps the frequency table an honest partition of the
    * corpus (a sliding window would count each char position n times).
    *
    * Trained to 1024 rules at batchM = 16, acceptance is clash-limited in
    * the tail (~10 rules/round regardless of batchM), so the drive is
    * ~110 driver-sequential rounds; the pair explode starts at ~38 k
    * weighted rows and SHRINKS to ~6 k as merges consume positions
    * (PLANS.md round-13 cost table). [[bpeTrainDeepRestartable]] trains
    * this stream to 4096 rules.
    */
  private[graft] def charChunkUnits(docs: DataFrame, n: Int = 8): DataFrame =
    docs.select(translate(col("text"), " ", "_").as("t"))
      .select(explode(expr(
        s"transform(sequence(1, greatest((length(t) + ${n - 1}) div $n, 1)), " +
          s"i -> substring(t, CAST((i - 1) * $n + 1 AS INT), $n))")).as("word"))

  /** The starting vocabulary every trainer begins from: the unit stream
    * collapsed ONCE into its frequency table (units shorter than 2 chars
    * have nothing to merge), each unit split into single-char tokens —
    * `(word, f, toks)`.
    */
  private def initialVocab(units: DataFrame): DataFrame =
    units.where(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("f"))
      .withColumn("toks",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** RESTARTABLE vocab-scale training (VERDICT r15 next #7): the batched
    * loop over [[charChunkUnits]] with its state persisted PER ROUND
    * under `stateRoot`, so a production-depth drive (4096+ rules) runs
    * as resumable SITTINGS instead of one monolithic job — a crashed or
    * budget-evicted trainer resumes from its last durable round with
    * zero recomputation.
    *
    * State layout (the store's idempotent-overwrite ack discipline, the
    * reference's enqueue-purge / ack-purge pair applied to rounds):
    * {{{
    *   rules/batch-NNNNN.parquet   round N's accepted rules (overwrite)
    *   vocab/round-NNNNN/          the post-round-N vocabulary
    *   commits/commit-NNNNN        ack marker: round N durably complete
    *   exhausted                   the merge supply ran out: drive done
    * }}}
    * Each round writes DATA first (rules batch + vocab checkpoint, both
    * idempotent overwrites a crash-replay simply rewrites), then the
    * commit marker (CREATE_NEW, the SET-NX ack); resume reads the max
    * committed round's vocab and continues at the next round. Superseded
    * vocab checkpoints are pruned after the ack. Because round r depends
    * ONLY on the post-(r−1) vocabulary — the same prefix-stability that
    * powers the oracle — a resumed drive is BIT-IDENTICAL to an unbroken
    * one (Round16Spec pins it rule for rule).
    *
    * @return (rules accumulated so far — ordered (round, sel_rank) —,
    *         done: target reached or merge supply exhausted)
    */
  def bpeTrainDeepRestartable(docs: DataFrame, stateRoot: String,
      targetMerges: Int = 4096, batchM: Int = 16, poolK: Int = 96,
      roundsPerSitting: Int = 64, checkpointEvery: Int = 16): (DataFrame, Boolean) = {
    import java.nio.file.{FileAlreadyExistsException, Files => JFiles, Path,
      Paths => JPaths, StandardOpenOption}
    import scala.jdk.CollectionConverters._
    val spark = docs.sparkSession
    val root = JPaths.get(stateRoot)
    val commitsDir = root.resolve("commits")
    val rulesDir = root.resolve("rules")
    val vocabDir = root.resolve("vocab")
    val doneMarker = root.resolve("exhausted")
    JFiles.createDirectories(commitsDir)
    def list(dir: Path): Seq[String] = {
      val s = JFiles.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    def deleteTree(p: Path): Unit =
      JFiles.walk(p).iterator().asScala.toSeq.reverse
        .foreach(q => JFiles.deleteIfExists(q))
    def markOnce(p: Path): Unit =
      try JFiles.write(p, Array.emptyByteArray, StandardOpenOption.CREATE_NEW)
      catch { case _: FileAlreadyExistsException => () }
    val committed = list(commitsDir).filter(_.matches("commit-\\d{5}"))
      .map(_.stripPrefix("commit-").toInt).sorted
    val firstRound = committed.lastOption.getOrElse(0) + 1
    // crash hygiene: a batch file written without its ack (crash between
    // the data write and the marker) is UNCOMMITTED — drop it, the
    // resumed drive re-derives and re-writes it deterministically
    if (JFiles.exists(rulesDir))
      list(rulesDir).filter(n => n.matches("batch-\\d{5}\\.parquet") &&
          n.stripPrefix("batch-").takeWhile(_.isDigit).toInt >= firstRound)
        .foreach(n => deleteTree(rulesDir.resolve(n)))
    def allRules = loadBpeRules(spark, stateRoot)
      .orderBy(col("round"), col("sel_rank"))
    var rulesCount: Long =
      if (committed.isEmpty) 0L else loadBpeRules(spark, stateRoot).count()
    if (rulesCount >= targetMerges || JFiles.exists(doneMarker))
      return (allRules, true)
    // rules accumulated since the last durable checkpoint
    val pending = scala.collection.mutable.ArrayBuffer.empty[BpeRule]
    var lastCommitted = firstRound - 1
    // DATA first (idempotent overwrites a crash-replay rewrites), ACK
    // (the CREATE_NEW marker) second — the store's publish discipline
    def checkpoint(round: Int, vocab: DataFrame): Unit = {
      rulesDf(spark, pending.toSeq).coalesce(1).write.mode("overwrite")
        .parquet(rulesDir.resolve(f"batch-$round%05d.parquet").toString)
      vocab.write.mode("overwrite")
        .parquet(vocabDir.resolve(f"round-$round%05d").toString)
      markOnce(commitsDir.resolve(f"commit-$round%05d"))
      // prune the superseded checkpoint (post-ack, crash-safe)
      val prev = vocabDir.resolve(f"round-$lastCommitted%05d")
      if (lastCommitted > 0 && JFiles.exists(prev)) deleteTree(prev)
      lastCommitted = round
      pending.clear()
    }
    // resume point: the last committed round's vocabulary, or the
    // initial character split
    val start =
      if (committed.isEmpty) initialVocab(charChunkUnits(docs))
      else spark.read.parquet(
        vocabDir.resolve(f"round-${committed.last}%05d").toString)
    val (_, vocab, exhausted) = bpeRounds(start, firstRound, roundsPerSitting,
      batchM, poolK, (targetMerges - rulesCount).toInt,
      onRound = (round, v, accepted) => {
        pending ++= accepted
        rulesCount += accepted.size
        // durable every `checkpointEvery` rounds and at every sitting /
        // drive boundary — resume recomputes at most checkpointEvery−1
        // rounds, each a deterministic function of the checkpointed
        // vocabulary (the prefix-stability rule), so coarser checkpoints
        // trade resume work for per-round I/O without touching the
        // bit-identity contract
        val inSitting = round - firstRound + 1
        if (inSitting % checkpointEvery == 0 ||
            inSitting == roundsPerSitting || rulesCount >= targetMerges)
          checkpoint(round, v)
      })
    // an exhausted supply leaves the rounds since the last checkpoint
    // pending: commit them before the done marker
    if (pending.nonEmpty) checkpoint(pending.last._1.toInt, vocab)
    if (exhausted) markOnce(doneMarker)
    (allRules, exhausted || rulesCount >= targetMerges)
  }

  /** Rules accumulated under a [[bpeTrainDeepRestartable]] state root. */
  def loadBpeRules(spark: SparkSession, stateRoot: String): DataFrame = {
    val dir = java.nio.file.Paths.get(stateRoot, "rules")
    val hasBatches = java.nio.file.Files.exists(dir) && {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().hasNext finally s.close()
    }
    if (hasBatches) spark.read.parquet(dir.toString + "/*")
    else rulesDf(spark, Nil)
  }

  /** One merge rule: (round, sel_rank, pair_a, pair_b, merged, cnt). */
  private type BpeRule = (Long, Long, String, String, String, Long)

  private def rulesDf(spark: SparkSession, rules: Seq[BpeRule]): DataFrame = {
    import spark.implicits._
    rules.toDF("round", "sel_rank", "pair_a", "pair_b", "merged", "cnt")
  }

  /** Per-round telemetry from the LAST [[bpeRounds]] run on this driver:
    * (round, accepted_merges, pair_rows_exploded, seconds).
    * Observability seam (the FooterCache-counters pattern) — feeds the
    * PLANS.md cost table proving round cost stays vocab-sized as merges
    * accumulate.
    */
  @volatile private[graft] var lastRoundCosts: Seq[(Int, Int, Long, Double)] = Nil

  /** When true the loop also counts the per-round pair-explode volume
    * (one extra vocab-sized aggregate per round) — spec-only; the
    * registered queries keep it off so the benched cost is the plain loop.
    */
  @volatile private[graft] var bpeTelemetry: Boolean = false

  /** THE BPE round loop every trainer runs: from the `start` vocabulary
    * `(word, f, toks)`, up to `rounds` rounds numbered from `firstRound`,
    * stopping early when `targetMerges` rules have been accepted or the
    * merge supply runs out. Per round:
    *
    *  - count adjacent token pairs weighted by unit frequency and take the
    *    top-`poolK` (cnt desc, a, b — a total order, so the boundary is
    *    deterministic);
    *  - accept a pool pair iff it shares NO token with any higher-ranked
    *    pool pair, up to `batchM` (and the remaining target). Accepted
    *    pairs are therefore mutually token-disjoint, which makes the batch
    *    well-defined: a matched position of one pair can never overlap or
    *    neighbor a matched position of another (adjacency would force a
    *    shared token), so applying the batch simultaneously against the
    *    PRE-ROUND token sequence ≡ applying its members sequentially in any
    *    order. With `batchM = 1` the rule degenerates to the plain top-1
    *    (nothing outranks it);
    *  - merge ([[applyMergeBatch]]), checkpoint the new vocabulary and
    *    release the superseded one;
    *  - hand the round number, the new vocabulary and the round's rules to
    *    `onRound` (the restartable trainer's durable checkpoint).
    *
    * @return (accepted rules in (round, sel_rank) order, the final
    *         vocabulary, whether the merge supply ran out)
    */
  private def bpeRounds(start: DataFrame, firstRound: Int, rounds: Int,
      batchM: Int, poolK: Int, targetMerges: Int,
      onRound: (Int, DataFrame, Seq[BpeRule]) => Unit = (_, _, _) => ())
      : (Seq[BpeRule], DataFrame, Boolean) = {
    var vocab = start.localCheckpoint(true)
    val rules = scala.collection.mutable.ArrayBuffer.empty[BpeRule]
    val costs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Double)]
    var r = firstRound
    var exhausted = false
    while (r < firstRound + rounds && !exhausted && rules.size < targetMerges) {
      val t0 = System.nanoTime()
      val pairRows = if (bpeTelemetry) vocab.select(
        sum(greatest(size(col("toks")) - 1, lit(0)).cast("long"))).head().getLong(0)
      else -1L
      val pool = vocab
        .select(col("f"), col("toks"),
          posexplode(slice(col("toks"), lit(1), size(col("toks")) - 1))
            .as(Seq("i0", "a")))
        .withColumn("b", element_at(col("toks"), col("i0") + 2))
        .groupBy("a", "b").agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(poolK).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      if (pool.isEmpty) exhausted = true
      else {
        val accepted = pool.zipWithIndex.filter { case ((a, b, _), i) =>
          !pool.take(i).exists { case (c, d, _) =>
            c == a || c == b || d == a || d == b }
        }.map(_._1).take(math.min(batchM, targetMerges - rules.size)).toSeq
        val roundRules = accepted.zipWithIndex.map { case ((a, b, cnt), j) =>
          (r.toLong, (j + 1).toLong, a, b, a + b, cnt)
        }
        rules ++= roundRules
        val prev = vocab
        vocab = applyMergeBatch(vocab, accepted).localCheckpoint(true)
        CheckpointLease.release(prev) // superseded round vocab (guide §5)
        costs += ((r, accepted.length, pairRows, (System.nanoTime() - t0) / 1e9))
        onRound(r, vocab, roundRules)
        r += 1
      }
    }
    lastRoundCosts = costs.toSeq
    (rules.toSeq, vocab, exhausted)
  }

  /** One batched-merge application — the simultaneous fold of
    * [[bpeRounds]]: match flags come from the ORIGINAL token array (never
    * freshly merged output — a cascade would diverge from the batch
    * semantics), the accumulator carries only the skip bit, and
    * (a,a)-run parity falls out of the skip-next discipline.
    */
  private def applyMergeBatch(vocab: DataFrame,
      accepted: Seq[(String, String, Long)]): DataFrame =
    vocab.withColumn("toks",
      aggregate(
        sequence(lit(1), size(col("toks"))),
        struct(array().cast("array<string>").as("arr"),
          lit(false).as("skip")),
        (acc, i) => {
          val t = element_at(col("toks"), i)
          val nxt = try_element_at(col("toks"), i + 1)
          val isMatch = accepted.map { case (a, b, _) =>
            nxt.isNotNull && t === lit(a) && nxt === lit(b)
          }.reduce(_ || _)
          when(acc.getField("skip"),
              struct(acc.getField("arr").as("arr"),
                lit(false).as("skip")))
            .when(isMatch,
              struct(concat(acc.getField("arr"),
                  array(concat(t, nxt))).as("arr"),
                lit(true).as("skip")))
            .otherwise(
              struct(concat(acc.getField("arr"), array(t)).as("arr"),
                lit(false).as("skip")))
        },
        acc => acc.getField("arr")))

  /** GPT-style SEQUENCE PACKING — the pre-training step every LLM data
    * pipeline runs after tokenization: documents concatenate in doc_id
    * order, each followed by one EOD separator token, and the global
    * token stream splits into fixed `seqLen` training sequences. The
    * output is the per-(sequence, document) SPAN table — exactly what a
    * loader needs to build attention masks that stop at document
    * boundaries: which docs contribute to each sequence, at what offset,
    * for how many tokens, and whether the doc's EOD lands here.
    *
    * The only order-dependent quantity is each doc's global offset — an
    * exclusive prefix sum over doc_id order. A naive window
    * (`ORDER BY doc_id` unpartitioned) funnels the corpus through ONE
    * task; this uses the TWO-LEVEL prefix-sum idiom instead:
    * docs bucket by `doc_id div bucketSize`, per-bucket totals aggregate
    * map-side into a METADATA-scale table (|buckets| rows) whose
    * cumulative bases are the only global window, and within-bucket
    * prefixes run partitioned by bucket (bounded partitions). The corpus
    * is touched by exactly one scan, one bucket-keyed window, and one
    * broadcast join of the base table; per-doc span explode is bounded
    * by len/seqLen + 2 rows. The default bucket width is 2^16, so at
    * 100 TB the level-1 bucket table is ~corpus/2^16 rows —
    * driver-trivial — and nothing corpus-sized ever single-tasks
    * (Round13Spec proves the spans are bucket-size INVARIANT, so the
    * width is purely a partitioning knob).
    *
    * @return spans: (seq_id, doc_id, start_in_seq, n_toks, has_eod)
    */
  def packSequences(docs: DataFrame, seqLen: Int = 256,
      bucketSize: Int = 1 << 16, baseOffset: Long = 0L): DataFrame =
    // slot = token count + 1 EOD separator (whitespace tokenization; the
    // BPE composition routes its own slot table through packSlots)
    packSlots(docs.select(col("doc_id"),
        (size(words(col("text"))) + 1).cast("long").as("slot")),
      seqLen, bucketSize, baseOffset)

  /** The packing engine behind [[packSequences]] over an ARBITRARY
    * per-doc slot table `(doc_id, slot)` — slot = the doc's token count
    * in whatever unit the caller tokenizes by, PLUS its one EOD
    * separator. [[packBpeSequences]] feeds BPE subword counts through
    * this; the whitespace row feeds word counts.
    */
  def packSlots(slots: DataFrame, seqLen: Int,
      bucketSize: Int, baseOffset: Long): DataFrame = {
    val L = seqLen.toLong
    // localCheckpoint pins the NARROW (doc_id, slot, bucket) projection
    // once: both prefix levels consume it, so the corpus text is scanned
    // and tokenized exactly once (the checkpoint is corpus-row-count-
    // sized at ~24 bytes/row, distributed — never the text column twice)
    val lens = slots.select(col("doc_id"), col("slot"),
      expr(s"doc_id div $bucketSize").as("bucket"))
      .localCheckpoint(true)
    // level 1: per-bucket totals — metadata-scale, map-side combined
    val bases = lens.groupBy("bucket").agg(sum("slot").as("btotal"))
      .withColumn("bbase",
        coalesce(sum(col("btotal")).over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("btotal")
    // level 2: within-bucket exclusive prefix (bounded partitions) +
    // broadcast of the bucket bases
    val withOff = lens
      .withColumn("wprefix",
        coalesce(sum(col("slot")).over(
          Window.partitionBy("bucket").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(bases), "bucket")
      // baseOffset: where this corpus STARTS in the global token stream —
      // the incremental-packing seam (st_pack carries the running total
      // across micro-batches, so history spans are frozen, L0-style)
      .withColumn("off", col("bbase") + col("wprefix") + lit(baseOffset))
      .select("doc_id", "slot", "off")
    // spans: the doc's slot [off, off+slot) intersected with each seq
    // window [s*L, (s+1)*L) it overlaps — ≤ slot/L + 2 rows per doc
    withOff
      .withColumn("seq_id", explode(expr(
        s"sequence(off div $L, (off + slot - 1) div $L)")))
      .select(
        col("seq_id"),
        col("doc_id"),
        (greatest(col("off"), col("seq_id") * L) - col("seq_id") * L)
          .as("start_in_seq"),
        (least(col("off") + col("slot"), (col("seq_id") + 1) * L) -
          greatest(col("off"), col("seq_id") * L)).as("n_toks"),
        (expr(s"(off + slot - 1) div $L") === col("seq_id"))
          .cast("int").as("has_eod"))
  }

  /** TOKENIZE → PACK composed (VERDICT r13 next #2): pack the BPE
    * subword-token stream from a PERSISTED vocabulary instead of
    * whitespace words — the two halves a real GPT pipeline runs as one
    * job, composed through one oracled seam. Per-doc token counts come
    * from the [[bpeEncodePersisted]] apply leg (one exploded-word join
    * against the vocab-sized `(word, nt)` mapping — no training work in
    * this plan), the EOD separator is ONE in-vocab token id appended per
    * doc (slot = n_tokens + 1), and the span arithmetic runs in token-id
    * units through the same two-level prefix sum ([[packSlots]]).
    * Token-count-vs-word-count is exactly where span accounting silently
    * diverges — Round14Spec pins conservation against the encode leg and
    * the oracle replays the 6-round training + encode + packing window
    * end to end.
    */
  def packBpeSequences(docs: DataFrame, vocabRoot: String,
      seqLen: Int = 256, bucketSize: Int = 1 << 16,
      baseOffset: Long = 0L): DataFrame =
    packSlots(bpeEncodePersisted(docs, vocabRoot)
        .select(col("doc_id"), (col("n_tokens") + 1).as("slot")),
      seqLen, bucketSize, baseOffset)

  /** Per-sequence packing audit over [[packSequences]]: how many docs
    * land in each sequence, the filled token count (== seqLen everywhere
    * but the tail), EOD count, and the contributing doc-id range.
    */
  def packStats(docs: DataFrame, seqLen: Int = 256,
      bucketSize: Int = 1 << 16): DataFrame =
    packSequences(docs, seqLen, bucketSize)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("has_eod")).cast("long").as("n_eods"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /** Tokenizer APPLY — encode the corpus under the [[bpeTrain]]ed merges
    * (the deployment leg next to training): per-document subword-token
    * statistics after `rounds` merges. Because BPE merges act within
    * words, the trained vocabulary's `(word → toks)` mapping encodes any
    * document by a word-level JOIN — no per-document re-merging: the
    * fold ran once per DISTINCT word during training, and encoding a
    * 100 TB corpus is one exploded-word join against the vocab-sized
    * mapping (words shorter than 2 chars encode to themselves: 1 token
    * per char, 0 for empty splits). Reports per doc: word count, encoded
    * token count, character count, and the chars-per-token compression —
    * the number a tokenizer-prep pipeline actually tracks.
    */
  def bpeEncode(docs: DataFrame, rounds: Int = 6): DataFrame =
    encodeWithVocab(docs, greedyTokenCounts(docs, rounds))

  /** Persist the trained word → token-count vocabulary — the tokenizer's
    * write_index: training runs ONCE (per release, in production), and
    * every later encode job loads the vocab-sized table instead of
    * re-deriving it. Same discipline as [[Similarity.persistIvfIndex]].
    */
  def persistBpeVocab(docs: DataFrame, root: String, rounds: Int = 6): Unit =
    greedyTokenCounts(docs, rounds).write.mode("overwrite").parquet(root)

  /** The trained `(word, nt)` mapping: each vocabulary word's token count
    * after `rounds` greedy merges.
    */
  private def greedyTokenCounts(docs: DataFrame, rounds: Int): DataFrame =
    greedyRounds(docs, rounds)._2
      .select(col("word"), size(col("toks")).cast("long").as("nt"))

  /** Encode under a PERSISTED vocabulary (read_index + apply): the timed
    * plan's only inputs are the corpus scan and the vocab parquet — no
    * merge fold, no pair-count round, no training job anywhere. Training
    * determinism makes the result identical to [[bpeEncode]]'s, so both
    * share one oracle.
    */
  def bpeEncodePersisted(docs: DataFrame, root: String): DataFrame =
    encodeWithVocab(docs, docs.sparkSession.read.parquet(root))

  /** The shared APPLY leg: one exploded-word join against the vocab-sized
    * `(word, nt)` mapping (words shorter than 2 chars encode to
    * themselves), then the per-doc token-statistics rollup.
    */
  private def encodeWithVocab(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(vocab, Seq("word"), "left")
      .select(col("doc_id"),
        when(length(col("word")) >= 2, col("nt"))
          .otherwise(length(col("word")).cast("long")).as("t"),
        when(length(col("word")) >= 1, 1L).otherwise(0L).as("w"),
        length(col("word")).cast("long").as("c"))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("n_words"), sum(col("t")).as("n_tokens"),
        sum(col("c")).as("n_chars"))
      .withColumn("chars_per_token",
        when(col("n_tokens") > 0,
          col("n_chars").cast("double") / col("n_tokens").cast("double")))

  /** KMV (k-minimum-values) distinct-token sketch — the deterministic,
    * engine-portable alternative to HLL for cardinality estimation at
    * scale: hash every distinct token to a 52-bit integer (13 md5 hex
    * chars — exact in a double), keep the k smallest (TakeOrdered — only
    * k values ever cross the network), estimate `(k-1) * 2^52 / v_k`.
    * md5-based so the oracle reproduces the estimate bit-for-bit; a
    * probabilistic hash would give an equally valid but uncheckable
    * estimate.
    *
    * The sketch exists to AVOID a corpus-wide exact distinct, so this
    * operator deliberately does not compute one — the plan is a single
    * scan ending in TakeOrderedAndProject. Use [[exactDistinctTokens]]
    * (spec/validation only) to measure sketch error at small SF.
    */
  def kmvDistinctTokens(docs: DataFrame, k: Int = 64): DataFrame = {
    val toks = docs.select(explode(words(col("text"))).as("w"))
    val hashes = toks.select(md5(col("w")).as("h")).distinct()
    val vals = hashes.select(
      conv(substring(col("h"), 1, 13), 16, 10).cast("long").as("v"))
    vals.orderBy(col("v")).limit(k)
      .agg(max(col("v")).as("vk"), count(lit(1)).as("k"))
      .select(
        col("k"), col("vk"),
        // unsaturated sketch (< k values seen) counts exactly; saturated
        // uses the KMV estimator (k-1)/normalized v_k
        when(col("k") < k, col("k").cast("double"))
          .otherwise((col("k") - 1).cast("double") * lit(4503599627370496.0) /
            col("vk").cast("double"))
          .as("est_distinct"))
  }

  /** Exact distinct-token count — the ground truth [[kmvDistinctTokens]]
    * estimates. Spec/validation use only: at corpus scale this is the
    * full-shuffle distinct the sketch is there to avoid.
    */
  def exactDistinctTokens(docs: DataFrame): DataFrame =
    docs.select(explode(words(col("text"))).as("w"))
      .select(md5(col("w")).as("h")).distinct()
      .agg(count(lit(1)).as("n_exact"))

  /** Sliding-window CHUNKING with overlap — the RAG-ingestion splitter
    * (LangChain/LlamaIndex `chunk_size`/`chunk_overlap`, Pinecone/Weaviate
    * ingestion guides): each document becomes token windows of `window`
    * tokens starting every `stride` tokens (overlap = window − stride),
    * so a fact straddling a boundary appears intact in the next chunk.
    * Chunk count per doc: 1 for n ≤ window, else ⌈(n−window)/stride⌉+1 —
    * the final chunk always reaches the document's last token and is
    * never empty (stride ≤ window guarantees start < n).
    *
    * Emits (doc_id, chunk_id, start_tok, n_tokens, chunk_hash) — the
    * hash is what downstream chunk-level dedup / embedding joins key on.
    *
    * Scale shape: a pure per-document projection + bounded explode (the
    * [[Dedup.passageDedup]] exploder with overlap) — zero shuffles, zero state,
    * output rows ∝ tokens/stride; embarrassingly parallel at any corpus
    * size, which is why the streaming twin shares this oracle verbatim.
    */
  def chunkOverlap(docs: DataFrame, window: Int = 16,
      stride: Int = 12): DataFrame = {
    require(stride >= 1 && stride <= window,
      s"need 1 <= stride ($stride) <= window ($window)")
    docs
      .select(col("doc_id"), words(col("text")).as("__ws"))
      .withColumn("__n", size(col("__ws")).cast("long"))
      .withColumn("__nc", expr(
        s"case when __n <= $window then 1L else (__n - $window + ${stride - 1}) div $stride + 1L end"))
      .select(col("doc_id"), col("__ws"), col("__n"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * stride)
      .withColumn("__toks", expr(
        s"slice(__ws, cast(start_tok as int) + 1, $window)"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("__toks")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("__toks"))).as("chunk_hash"))
  }

  /** Document fingerprinting: order-sensitive rolling hash over the word
    * sequence + full-content md5.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      rollingFingerprint(words(col("text"))).as("roll_fp"),
      md5(col("text")).as("content_hash"))

  /** Repetition quality signals (Gopher-style filters): per-doc bigram
    * histogram → top-bigram fraction (share of bigram slots taken by the
    * most frequent bigram) and duplicate-bigram fraction (1 − distinct /
    * total) — the signals that catch boilerplate and degenerate loops
    * that plain type-token ratio misses.
    *
    * Scale shape: relational, not HOF (see [[graft.functions.TextFunctions]]
    * scaladoc) — posexplode + lead window builds bigrams, then two
    * aggregates both keyed on `doc_id` (the second reuses the first's
    * partitioning; one wide exchange total after the window's).
    */
  def repetition(docs: DataFrame): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = docs.select(col("doc_id"), posexplode(words(col("text"))))
      .toDF("doc_id", "pos", "w1")
      .withColumn("w2", lead(col("w1"), 1).over(byPos))
      .where(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("bg"))
    bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("c")).as("top_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        col("top_bigram_n"),
        (col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))
          .as("top_bigram_frac"),
        (lit(1.0) - col("n_distinct_bigrams").cast("double") /
          col("n_bigrams").cast("double")).as("dup_bigram_frac"))
  }

  /** Vocabulary truncation / OOV masking — the tokenizer-prep step that
    * replaces rare terms with a sentinel: any term whose document
    * frequency is below `minDfFrac · N` becomes `<unk>`. Emits the per-doc
    * audit row (token count, masked count, md5 of the reconstructed
    * masked text — order-preserving, so the hash proves the rewrite kept
    * token positions intact).
    *
    * Scale shape: df is a distinct+count aggregate on the term (map-side
    * combined, vocabulary-sized output); the token↔vocab join shuffles on
    * the high-cardinality term; the reconstruction groups by `doc_id`
    * with a pos-sorted collect_list. Corpus size is a 1-row broadcast.
    */
  def vocabTruncate(docs: DataFrame, minDfFrac: Double = 0.5): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(words(col("text"))).as(Seq("pos", "w")))
    val df = toks.select(col("doc_id"), col("w")).distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val mapped = toks.join(df, "w").crossJoin(broadcast(n))
      .select(col("doc_id"), col("pos"),
        when(col("df").cast("double") >=
          lit(minDfFrac) * col("n_docs").cast("double"), col("w"))
          .otherwise(lit("<unk>")).as("w2"))
    mapped.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("w2") === "<unk>", 1L).otherwise(0L)).as("n_unk"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("w2")))),
            s => s.getField("w2")))).as("trunc_hash"))
  }

  /** Count-min sketch term-frequency estimates: `d` md5-derived hash rows
    * × `w` counters, token counts folded into `counter[j][h_j(token)]`,
    * estimate = min over rows — the fixed-size-state alternative to a
    * corpus-wide `groupBy(term)` when only a few terms' counts are needed.
    * md5-derived buckets keep it deterministic and oracle-reproducible
    * (like [[kmvDistinctTokens]]); CM never underestimates.
    *
    * Scale shape: the ONLY corpus-wide work is the token explode feeding
    * a map-side-combined aggregate whose key cardinality is bounded by
    * d·w (not vocabulary size) — each task emits ≤ d·w rows no matter how
    * much data it scanned. The candidate probe is a broadcast join
    * against that d·w-row sketch.
    */
  def cmSketchEstimates(docs: DataFrame, terms: Seq[String],
      d: Int = 3, w: Int = 256): DataFrame = {
    def bucket(tk: Column, j: Int): Column =
      conv(substring(md5(concat(lit(j.toString), lit(":"), tk)), 1, 13), 16, 10)
        .cast("long") % w
    def rowBuckets(tk: Column): Column =
      explode(array((0 until d).map(j =>
        struct(lit(j).as("r"), bucket(tk, j).as("b"))): _*))
    val sketch = docs.select(explode(words(col("text"))).as("tk"))
      .select(rowBuckets(col("tk")).as("p"))
      .select(col("p.r").as("r"), col("p.b").as("b"))
      .groupBy("r", "b").agg(count(lit(1)).as("c"))
    val spark = docs.sparkSession
    import spark.implicits._
    val candidates = terms.toDF("term")
      .select(col("term"), rowBuckets(col("term")).as("p"))
      .select(col("term"), col("p.r").as("r"), col("p.b").as("b"))
    broadcast(candidates).join(sketch, Seq("r", "b"), "left_outer")
      .groupBy("term")
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
  }

  /** HyperLogLog distinct-shingle sketch (m = 2^p registers) — the
    * fixed-state cardinality estimator for the shingle universe that
    * near-dup pipelines size their LSH parameters from. Deterministic and
    * engine-portable like [[kmvDistinctTokens]]: the hash is 13 md5 hex
    * chars (52 bits, exact in a double), bucket = top `p` bits, rho =
    * leading zeros of the remaining `52-p` bits + 1 (via the minimal
    * binary-string length, identical in Spark and DuckDB `bin`). The
    * harmonic sum is kept as an EXACT integer — `sum(2^(Rmax - rho_max))`
    * over all m registers (each term a dyadic rational scaled by 2^Rmax,
    * ≤ m·2^45 < 2^53) — so the only floating-point step is one constant
    * multiply chain and ONE division, both exactly-rounded IEEE ops.
    *
    * Raw-estimator regime only (no linear-counting small-range branch: it
    * needs `ln`, which is not bit-portable across libm implementations);
    * callers should pick `p` so the expected cardinality is ≥ 2.5·m, which
    * holds for shingle universes at any real corpus size.
    *
    * Scale shape: explode → project → ONE map-side-combined aggregate with
    * key cardinality ≤ m (each task emits ≤ m rows no matter how much data
    * it scanned) → broadcast-joined to the m-row register universe. This
    * is the estimator to use where KMV's global TakeOrdered(k) would make
    * the driver a merge point for k values per partition.
    */
  def hllDistinctShingles(docs: DataFrame, p: Int = 8): DataFrame = {
    val m = 1 << p
    val tailBits = 52 - p
    val rMax = tailBits + 1 // rho of an all-zero tail
    val v = conv(substring(md5(col("shingle")), 1, 13), 16, 10).cast("long")
    val probe = Dedup.shingleSet(docs).select(
      shiftright(v, tailBits).as("bucket"),
      v.bitwiseAND(lit((1L << tailBits) - 1)).as("tail"))
    val rho = when(col("tail") === 0, lit(rMax))
      .otherwise(lit(rMax) - length(bin(col("tail"))))
    val regs = probe.select(col("bucket"), rho.cast("int").as("rho"))
      .groupBy("bucket").agg(max(col("rho")).as("mj"))
    val universe = docs.sparkSession.range(m).toDF("bucket")
    val filled = universe.join(regs, Seq("bucket"), "left_outer")
      .select(coalesce(col("mj"), lit(0)).as("mj"))
    // alpha_m · m² / sum(2^-mj), with the sum scaled by 2^rMax to stay an
    // exact integer; the SQL oracle repeats this constant chain verbatim.
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    filled
      .agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($rMax - mj AS INT))"))
          .as("s_scaled"),
        sum(when(col("mj") === 0, 1L).otherwise(0L)).as("n_zero"))
      .select(col("n_zero"), col("s_scaled"),
        (alpha * lit(m.toDouble) * lit(m.toDouble) *
          lit(math.pow(2.0, rMax).toLong.toDouble) /
          col("s_scaled").cast("double")).as("est_distinct"))
  }

  /** Per-document fluency scoring against a corpus bigram language model —
    * the perplexity-proxy quality signal (docs whose word transitions are
    * rare under the corpus model score low). The per-bigram transition
    * probability `count(w1 w2) / count(w1 ·)` is quantized to parts-per-
    * million with ONE exactly-rounded double division then a floor, so the
    * per-doc sum is an exact integer and the oracle matches bit-for-bit
    * (a log-prob sum would drift in the last ulp — same reasoning as
    * [[tfidfTopTerms]]).
    *
    * Scale shape: the model is two map-side-combined aggregates (bigram
    * and prefix counts, both vocabulary-bounded — corpus-size-independent
    * state); scoring re-joins the corpus bigrams to the model on the
    * high-cardinality bigram key, then aggregates per doc. At real scale
    * the model table is usually small enough that AQE picks a broadcast
    * join on its own; the plan stays correct either way.
    */
  /** All word-bigram instances per document (relational lead-window
    * construction, no interpreted HOF): `(doc_id, w1, w2)`, one row per
    * adjacent token pair in original order, duplicates preserved.
    */
  def docBigrams(docs: DataFrame): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs.select(col("doc_id"), posexplode(words(col("text"))))
      .toDF("doc_id", "pos", "w1")
      .withColumn("w2", lead(col("w1"), 1).over(byPos))
      .where(col("w2").isNotNull)
      .select(col("doc_id"), col("w1"), col("w2"))
  }

  def bigramLmScore(docs: DataFrame): DataFrame = {
    val bigrams = docBigrams(docs)
    val big = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
    val pre = big.groupBy("w1").agg(sum(col("c_bigram")).as("c_prefix"))
    val model = big.join(pre, "w1")
    bigrams.join(model, Seq("w1", "w2"))
      .select(col("doc_id"),
        floor(col("c_bigram").cast("double") * lit(1000000.0) /
          col("c_prefix").cast("double")).cast("long").as("q"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("lm_score_q"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_score_q"),
        (col("lm_score_q").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_transition_q"))
  }

  /** Top-k salient terms per document by a TF-IDF-shaped score. The score
    * is `(tf · N) / df` — one exact integer product then ONE IEEE double
    * division, so Spark and the oracle agree bit-for-bit (a `log` idf
    * would differ in the last ulp between libm implementations). Ranking
    * ties break on the term itself.
    *
    * Scale shape: term-frequency aggregate shuffles on `(doc_id, term)`,
    * document-frequency aggregate on `term` (both high-cardinality keys,
    * map-side combined); the corpus size is a 1-row broadcast; the final
    * per-doc top-k is a row_number window that planning rewrites to
    * WindowGroupLimit (partial top-k before the exchange).
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val byScore = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(byScore))
      .where(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rank")
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1):
    * word-count bounds, mean-word-length band, symbol-to-word ratio cap,
    * and minimum distinct-stopword evidence, each as a 0/1 flag with
    * `passes` as the conjunction. All arithmetic is exact-integer with one
    * double division per ratio. Single projection — no shuffle, scales
    * embarrassingly.
    */
  def gopherRules(docs: DataFrame, minWords: Int = 50, maxWords: Int = 100000,
      minMwl: Double = 3.0, maxMwl: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minStopKinds: Int = 2): DataFrame = {
    val ws = words(col("text"))
    docs.select(col("doc_id"), col("text"), ws.as("ws"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("sum_word_len",
        aggregate(col("ws"), lit(0L), (a, w) => a + length(w)))
      .withColumn("mean_word_len",
        col("sum_word_len").cast("double") / col("n_words").cast("double"))
      .withColumn("n_symbols",
        (length(col("text")) -
          length(regexp_replace(col("text"), "[#*]", ""))).cast("long"))
      .withColumn("symbol_ratio",
        col("n_symbols").cast("double") / col("n_words").cast("double"))
      .withColumn("n_stop_kinds",
        size(array_intersect(array_distinct(col("ws")),
          array(Stopwords.map(lit): _*))).cast("long"))
      .withColumn("f_word_count",
        (col("n_words") >= minWords && col("n_words") <= maxWords).cast("int"))
      .withColumn("f_mean_word_len",
        (col("mean_word_len") >= minMwl && col("mean_word_len") <= maxMwl)
          .cast("int"))
      .withColumn("f_symbol_ratio",
        (col("symbol_ratio") <= maxSymbolRatio).cast("int"))
      .withColumn("f_stopwords", (col("n_stop_kinds") >= minStopKinds).cast("int"))
      .withColumn("passes",
        (col("f_word_count") === 1 && col("f_mean_word_len") === 1 &&
          col("f_symbol_ratio") === 1 && col("f_stopwords") === 1).cast("int"))
      .drop("ws", "text")
  }

  /** Character-diversity quality signal via the Simpson collision index:
    * `Σ n_c·(n_c−1) / (N·(N−1))` — the probability two random character
    * draws collide. High collision = repetitive/degenerate text (the
    * signal entropy-based filters compute), but unlike entropy there is
    * no transcendental function anywhere: the index is one exact-integer
    * division, so the double is bit-identical in any engine. Per-char
    * counts come from `length(text) − length(replace(text, c))` over the
    * corpus alphabet — an alphabet-bounded PROJECTION (no explode, no
    * shuffle), the shape that scans 100 TB untouched.
    */
  val Alphabet: Seq[String] = ("abcdefghijklmnopqrstuvwxyz".map(_.toString) :+ " ")

  def charDiversity(docs: DataFrame): DataFrame = {
    val counts = Alphabet.map { ch =>
      (length(col("text")) -
        length(expr(s"replace(text, '$ch', '')"))).cast("long")
    }
    val n = length(col("text")).cast("long")
    val simpson = counts.map(c => c * (c - 1L)).reduce(_ + _)
    val distinct = counts.map(c => when(c > 0L, 1L).otherwise(0L)).reduce(_ + _)
    docs.select(
      col("doc_id"),
      n.as("n_chars_total"),
      distinct.as("distinct_chars"),
      simpson.as("simpson_num"),
      when(n > 1L, simpson.cast("double") / (n * (n - 1L)).cast("double"))
        .as("collision_prob"))
  }

  /** PII pattern set for [[piiScrub]] — deliberately simple character
    * classes that parse identically under Java regex (Spark) and RE2
    * (most SQL engines), so detection counts and the redacted text are
    * engine-portable.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9]+@[a-z0-9]+\\.[a-z]+", "<EMAIL>"),
    ("phone", "555-[0-9]+", "<PHONE>"),
    ("ip", "10\\.[0-9]+\\.[0-9]+\\.[0-9]+", "<IP>"))

  /** PII detection + redaction — the scrub stage every training-data
    * pipeline runs before text ships. Counts each PII class and emits the
    * redacted text's digest/length, one projection per document: no
    * shuffle, embarrassingly parallel, regexes compiled once per task by
    * codegen — the shape that holds at any corpus size.
    *
    * The driver corpus is synthetic word-salad with no organic PII, so
    * the operator is exercised against a deterministic injection: each
    * document is augmented with `doc_id`-derived pseudo-PII (a varying
    * number of emails/phones plus one IP) BEFORE scrubbing — recomputed
    * identically by the oracle — which makes the counts vary per row and
    * the redaction genuinely load-bearing instead of a trivially-zero
    * pass-through.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val aug = concat(col("text"),
      expr("repeat(concat(' user', doc_id, '@mail', doc_id % 7, '.net'), " +
        "CAST(doc_id % 3 AS INT))"),
      expr("repeat(concat(' call 555-0', 100 + doc_id % 900), " +
        "CAST(doc_id % 2 AS INT))"),
      expr("concat(' from 10.', doc_id % 256, '.', (doc_id * 7) % 256, " +
        "'.', (doc_id * 13) % 256)"))
    val redacted = PiiPatterns.foldLeft(col("aug")) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    val counts = PiiPatterns.map { case (name, pat, _) =>
      regexp_count(col("aug"), lit(pat)).as(s"n_$name")
    }
    docs.select(col("doc_id"), aug.as("aug"))
      .select(Seq(col("doc_id")) ++ counts ++ Seq(
        length(col("aug")).cast("long").as("raw_len"),
        length(redacted).cast("long").as("clean_len"),
        md5(encode(redacted, "UTF-8")).as("clean_md5")): _*)
  }
}
