package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a document's `n_tokens` means to the four budget kernels —
  * [[Curation.packSequences]], [[Curation.mixSample]],
  * [[Curation.domainCapBudget]] and [[Curation.budgetSelect]]. A budget
  * stated in tokens means the pieces a training run consumes, and
  * whitespace counting under-budgets exactly the docs a subword
  * tokenizer fragments most (rare/long/OOV words → several pieces
  * each): a whitespace-budgeted corpus overshoots its piece budget by
  * each doc's pieces-per-token factor. One value picks the unit; the
  * kernels are the same for every unit. Piece counts are rows-only
  * slots: the learned merge list / fitted table is train-loop output,
  * not SQL-expressible (E26's reason).
  *
  * PIN RULE (measured r17; the one place it is stated): pin the narrow
  * counts above a join, never above the E27/E32b piece frame's
  * trailing `orderBy`. The kernels read their counts two or three
  * times (prefix-sum subtotal and output passes, the selection's span
  * probe), and an unpinned piece subtree (tokenize + explode + vocab
  * join + agg) re-runs per read — measured twice per mix call. Above
  * a doc-keyed join the frame's sort is already eliminated, so the pin
  * holds narrow scalars only. Directly above the piece frame, a pin
  * would materialize the global sort that EliminateSorts otherwise
  * removes under the kernel's aggregates: `pack_bpe` 0.65 → 1.03 s
  * with the pin — three kernel passes over the piece subtree cost less
  * than one range exchange + sort. Whitespace words have no sort, so
  * the packer pins their projection. */
sealed abstract class Denomination {

  /** The narrow (doc_id, n_tokens) frame over `docs`, unpinned. */
  def counts(docs: DataFrame): DataFrame
}

object Denomination {

  /** Whitespace words: `size(tokens())`, a projection on the doc row. */
  case object Words extends Denomination {
    private[operators] val nTokens: Column =
      size(TextAnalysis.tokens()).cast("long")
    def counts(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), nTokens.as("n_tokens"))
  }

  /** BPE pieces under a symbolized vocab (term, syms): E27's
    * Σ tf·|syms|, OOV terms falling back to one piece per character. */
  final case class BpePieces(vocab: DataFrame) extends Denomination {
    def counts(docs: DataFrame): DataFrame =
      TextAnalysis.bpeApplyOf(docs, vocab)
        .select(col("doc_id"), col("bpe_pieces").as("n_tokens"))
  }

  /** Unigram-LM pieces under a fitted table: E32b's Viterbi counts. */
  final case class UnigramPieces(logp: Map[String, Double], maxPieceLen: Int)
      extends Denomination {
    def counts(docs: DataFrame): DataFrame =
      TextAnalysis.unigramApplyOf(docs, logp, maxPieceLen)
        .select(col("doc_id"), col("unigram_pieces").as("n_tokens"))
  }

  /** BPE pieces under the 30-merge tokenizer learned on `sfDir`'s
    * corpus (the E26 train, cached per corpus version). */
  def bpe(spark: SparkSession, sfDir: String): Denomination =
    BpePieces(TextAnalysis.cachedBpe(spark, sfDir, nMerges = 30)._2)

  /** Unigram pieces under the 512-piece table (pieces up to 6 chars)
    * fitted on `sfDir`'s corpus (the E32 EM fit, cached per corpus
    * version). */
  def unigram(spark: SparkSession, sfDir: String): Denomination = {
    val maxPieceLen = 6
    UnigramPieces(TextAnalysis.cachedUnigram(spark, sfDir, vocabSize = 512,
      maxPieceLen, seedSize = 4096, emRounds = 4), maxPieceLen)
  }

  /** The packer's input: counts pinned where the rule allows it. */
  private[operators] def packCounts(docs: DataFrame,
      d: Denomination): DataFrame = d match {
    case Words => Words.counts(docs).localCheckpoint(true)
    case pieces => pieces.counts(docs)
  }

  /** `docs` without its text, `n_tokens` attached — the admission
    * kernels' input. Words ride the row as a projection (nothing
    * joined, nothing pinned); pieces join their counts and pin above
    * the join, so no text crosses the pin. Callers narrow `docs` to
    * the columns they read first: every column but the text is
    * pinned. */
  private[operators] def attach(docs: DataFrame, d: Denomination): DataFrame =
    d match {
      case Words => docs.withColumn("n_tokens", Words.nTokens).drop("text")
      case pieces => docs.drop("text", "n_tokens")
        .join(pieces.counts(docs), Seq("doc_id"))
        .localCheckpoint(true)
    }

  /** A scored (doc_id, n_tokens, q6) frame over `docs` with `n_tokens`
    * in `d`'s unit — the selection kernel's input. The E2 score already
    * counts words; pieces replace them through a doc-keyed join, left
    * unpinned (the selection kernel pins its input). */
  private[operators] def rescore(scored: DataFrame, docs: DataFrame,
      d: Denomination): DataFrame = d match {
    case Words => scored
    case pieces => scored.drop("n_tokens")
      .join(pieces.counts(docs), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("q6"))
  }
}
