package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Byte-pair-encoding MERGE TRAINING in-engine (Sennrich et al. 2016,
  * arXiv:1508.07909 — the tokenizer-training step of every LLM data
  * pipeline): learn the top-k symbol merges from corpus statistics.
  *
  * Scale design — the reason this is cheap at 100 TB: after ONE
  * corpus pass (word → frequency), every merge round runs on the
  * DISTINCT-WORD symbol table, whose size is the corpus VOCABULARY
  * (≈10⁵–10⁶ rows), independent of corpus size. k merge rounds are k
  * joins+windows over that small table; the corpus itself is never
  * touched again.
  *
  * Determinism (oracle-replayable):
  *  - words: whitespace tokens (Text.tokens); symbols start as single
  *    characters (no end-of-word marker — documented simplification);
  *  - pair counts: word-frequency-weighted counts of ADJACENT symbol
  *    pairs, overlapping occurrences counted naively (the standard
  *    Counter-over-zip convention);
  *  - winner: (count desc, sym_a asc, sym_b asc) — a total order;
  *  - application: greedy LEFT-TO-RIGHT non-overlapping, realized as
  *    gaps-and-islands over matched positions with odd-parity keep
  *    (within a run of consecutive matches the 1st, 3rd, … merge; the
  *    2nd, 4th, … would overlap a consumed symbol) — the sequential
  *    semantics, computed as one window pass;
  *  - exact integer counts throughout; no floats anywhere.
  */
object Bpe {

  /** One row per DISTINCT word: (word, fr, syms) with syms the
    * character-split symbol ARRAY. The array form (r21) keeps every
    * merge round's APPLY a pure per-row projection — the previous
    * one-symbol-per-row table paid three (word, pos) window sorts and
    * two joins PER ROUND for the same greedy rewrite (plan diff in
    * OPTIMIZATION_r21.md; values bit-identical, BpeSpec unchanged). */
  private def initSymbols(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(Text.tokens(text)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("fr"))
      .select(col("word"), col("fr"),
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"))

  /** Apply ONE merge (a, b) to a symbol array — greedy left-to-right
    * non-overlapping, as a single left fold: append each symbol, and
    * when the accumulator ends in `a` and the incoming symbol is `b`,
    * replace that tail with the merged symbol instead. Equivalent to
    * the sequential scan-with-skip semantics (and to the former
    * odd-parity islands form): a just-merged tail can never falsely
    * re-match because concat(a, b) is strictly longer than `a`. */
  private def applyMergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** The training loop: (merge table, final symbol table).
    *
    * Per round (r21): ONE aggregation job — adjacent pairs exploded
    * from the symbol arrays (zip-shift, no self-join), counted with
    * map-side partial aggregation, top-1 collected to the driver (one
    * row — the sanctioned bounded-collect class) — plus the projection
    * checkpoint that applies the merge. The former row-per-symbol loop
    * paid a self-join + limit + isEmpty probe + three window sorts +
    * two joins per round. */
  private def train(docs: DataFrame, text: Column,
      merges: Int): (DataFrame, DataFrame) = {
    require(merges >= 1)
    val spark = docs.sparkSession
    // each round's table supersedes the last, which is released once
    // the next is materialized; the final table is returned, so kept
    Pins { p =>
      var w = p.checkpoint(initSymbols(docs, text))
      val learned = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
      var r = 1
      var exhausted = false
      while (r <= merges && !exhausted) {
        val top = w.select(col("fr"), explode(
            zip_with(slice(col("syms"), lit(1), greatest(size(col("syms")) - 1, lit(0))),
              slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
              (sa, sb) => struct(sa.as("sa"), sb.as("sb")))).as("p"))
          .groupBy(col("p.sa").as("sym_a"), col("p.sb").as("sym_b"))
          .agg(sum(col("fr")).as("cnt"))
          .orderBy(col("cnt").desc, col("sym_a"), col("sym_b")).limit(1)
          .collect() // ≤ 1 row of driver state per round
        if (top.isEmpty) exhausted = true
        else {
          val a = top.head.getString(0)
          val b = top.head.getString(1)
          val cnt = top.head.getLong(2)
          learned += ((r, a, b, a + b, cnt))
          // truncate lineage; table stays vocab-sized
          val next = p.checkpoint(w.select(col("word"), col("fr"),
            applyMergeFold(col("syms"), a, b).as("syms")))
          p.release(w)
          w = next
        }
        r += 1
      }
      import spark.implicits._
      val mergeTable = learned.toSeq
        .toDF("rank", "sym_a", "sym_b", "merged", "cnt")
        .orderBy(col("rank"))
      (mergeTable, p.keep(w))
    }
  }

  /** A trained tokenizer: the learned merge list and the final
    * per-word symbol table (both vocabulary-sized, both already
    * lineage-truncated by the training loop). Every derivation —
    * merge list, vocab, corpus token counts, admission gates — reads
    * from here, so a pipeline that wants several pays the k-round
    * training loop ONCE. */
  final case class BpeState(mergeTable: DataFrame, symbolTable: DataFrame) {

    /** Post-training vocabulary: distinct symbols of the final word
      * table with frequency-weighted occurrence counts — what a
      * tokenizer ships alongside the merge list. */
    def vocab: DataFrame = symbolTable
      .select(col("fr"), explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("fr")).as("occurrences"))

    /** (word → n_sym): the per-distinct-word BPE token count — the
      * broadcastable map every corpus-side derivation joins against.
      * With the array-form symbol table this is a pure projection
      * (size of the word's symbol array) — the former row-per-symbol
      * shape paid a (word) count shuffle here. */
    def wordTokenCounts: DataFrame = symbolTable
      .select(col("word"), size(col("syms")).cast("long").as("_n_sym"))

    /** Tokenize a corpus under this trained tokenizer: per-document
      * BPE token counts. The scale move: a word's segmentation is a
      * pure function of the word, so it is computed ONCE PER DISTINCT
      * WORD (the training loop's final state already holds it) and the
      * corpus only pays an explode + a broadcast join against the
      * vocabulary-sized (word → n_sym) map — the corpus is never
      * re-segmented occurrence by occurrence. Returns
      * (doc_id, n_words, n_tok) with n_tok = Σ per-word symbol
      * counts. */
    def tokenCounts(docs: DataFrame, id: Column, text: Column): DataFrame =
      docs.select(id.as("doc_id"), explode(Text.tokens(text)).as("word"))
        .join(broadcast(wordTokenCounts), "word")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("_n_sym")).as("n_tok"))

    /** The (word → n_sym) map as driver-side literal data, for
      * [[Bpe.bpeTokenCount]] — the per-ROW streaming-legal token
      * counter (no join, no aggregation state; the dsirScore
      * expression-constant trick). Bounded by `maxVocab`: the vocab
      * rides into the scoring expression as literals, so the cap
      * bounds plan/literal size and driver memory (r20: per-word scan
      * cost is no longer a factor — the TokenCountSum kernel probes a
      * constant hash map O(1) per word); this form fits a budgeted
      * reference tokenizer (admission gates); corpus-scale
      * vocabularies use the broadcast-join [[tokenCounts]] instead. */
    def collectWordTokenCounts(maxVocab: Int = 4096): Map[String, Long] = {
      val m = wordTokenCounts.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(m.size <= maxVocab,
        s"vocabulary ${m.size} exceeds the literal-map cap $maxVocab — " +
          "use the broadcast-join tokenCounts form at this scale")
      m
    }
  }

  /** BPE token count of `text` as a pure column — tokens looked up in
    * the trained (word → n_sym) vocabulary, summed per row. A word
    * outside the trained vocabulary counts its character length (the
    * zero-merges-applicable segmentation — a deterministic upper
    * bound). Streaming-legal by construction: stateless column
    * algebra, so an admission gate can budget documents in BPE tokens
    * BEFORE any aggregation, in or out of foreachBatch.
    *
    * r20: the lookup rides the native [[graft.plans.GraftFunctions
    * .tokenCountSum]] kernel — an expression-constant HASH map, one
    * O(1) probe per word. The original spelling (`aggregate` +
    * `element_at` over a map LITERAL) paid a linear key scan per
    * word — O(doc_len · vocab) per row at the 4096 vocab cap, on the
    * factory's BPE admission gate and the q156 packing path; the
    * value is unchanged bit-for-bit (KernelFuzzSpec pins kernel ==
    * the HOF, including the char-length OOV arm and the null-element
    * poison). Requires GraftFunctions.register on the session (the
    * factory and query mains register; standalone users call it
    * once). */
  def bpeTokenCount(text: Column, wordNsym: Map[String, Long]): Column = {
    require(wordNsym.nonEmpty)
    // best-effort self-registration (r21, advisor): a standalone
    // caller that never called GraftFunctions.register would fail at
    // analysis with an unresolved graft_token_count_sum otherwise;
    // register is idempotent and cheap. r22 (advisor): also the
    // DEFAULT session — getActiveSession is thread-local, so an
    // off-thread builder could register against a session other than
    // the one that analyzes the plan. A Column carries no session, so
    // a true multi-session caller must still register on the session
    // that runs the plan (documented contract above).
    (org.apache.spark.sql.SparkSession.getActiveSession.toSeq ++
      org.apache.spark.sql.SparkSession.getDefaultSession).distinct
      .foreach(graft.plans.GraftFunctions.register)
    val entries = wordNsym.toSeq.sortBy(_._1)
    graft.plans.GraftFunctions.tokenCountSum(
      Text.tokens(text), entries.map(_._1), entries.map(_._2))
  }

  /** Run the k-round training loop once and return the reusable
    * trained state (merge table + final symbol table). */
  def trainState(docs: DataFrame, text: Column, merges: Int): BpeState = {
    val (m, w) = train(docs, text, merges)
    BpeState(m, w)
  }

  /** Train `merges` BPE merges over the corpus; returns the merge
    * table (rank, sym_a, sym_b, merged, cnt) with rank 1..merges in
    * learned order. Stops early if no adjacent pair remains. */
  def trainMerges(docs: DataFrame, text: Column, merges: Int): DataFrame =
    train(docs, text, merges)._1

  /** One-shot convenience for [[BpeState.vocab]]; pipelines wanting
    * more than one derivation should hold a [[trainState]]. */
  def vocabAfterMerges(docs: DataFrame, text: Column, merges: Int): DataFrame =
    trainState(docs, text, merges).vocab

  /** One-shot convenience for [[BpeState.tokenCounts]]; pipelines
    * wanting more than one derivation should hold a [[trainState]]. */
  def tokenCounts(docs: DataFrame, id: Column, text: Column,
      merges: Int): DataFrame =
    trainState(docs, text, merges).tokenCounts(docs, id, text)
}
