package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Full BPE tokenizer training + corpus encoding (SURVEY.md §2 B-10):
  * the iterative half that `Vocab.bpePairCounts` (q_bpe_pairs) only
  * measures. Classic Sennrich BPE over word TYPES: count adjacent symbol
  * pairs weighted by word frequency, merge the globally most frequent
  * pair, repeat.
  *
  * Representation: every symbol is EXACTLY ONE character — round r's
  * merged pair becomes the fresh private-alphabet character
  * `firstSymbol + r` (default U+4E00..; the corpus contract is that input
  * text stays outside the private range, which byte-level BPE guarantees
  * by construction). Single-char symbols make merge application a plain
  * left-to-right non-overlapping `replace(sym, pair, newChar)` — exactly
  * Sennrich's scan semantics ("aaaa" + merge(a,a) → two "aa" symbols),
  * with no word-boundary ambiguity, and `replace` behaves identically in
  * Spark and DuckDB, which is what lets an ITERATIVE tokenizer train be
  * fully oracle-checked (the oracle unrolls the same rounds).
  *
  * Scale shape: the corpus is touched ONCE (the word-frequency
  * aggregate); every merge round then runs on the word-TYPE vocabulary —
  * bounded by Heaps' law, orders of magnitude below corpus size — as one
  * pair-count aggregate with map-side partials. The per-round driver
  * collect is ONE row (the argmax pair): that is the algorithm's
  * inherent sequential dependency (merge r+1's counts depend on merge r's
  * rewrite), the same driver-sequencing discipline as the PageRank
  * rounds, NOT a data collect — the vocabulary itself never leaves the
  * cluster. The vocabulary is [[Rounds.materialize]]d before the first
  * round and after each merge, which truncates the per-round lineage.
  */
object Bpe {

  /** One merge: rank, the merged token's full text expansion, its
    * private-alphabet character, and the weighted pair count. */
  final case class Merge(rank: Int, token: String, ch: String, cnt: Long)

  /** Every private symbol must stay a single well-formed BMP char: the
    * one-char-per-symbol representation breaks silently (and Spark/DuckDB
    * diverge on ill-formed strings) if `firstSymbol + nMerges` crosses into
    * the UTF-16 surrogate range U+D800–U+DFFF, so fail fast instead. */
  private def requireSymbolRange(nMerges: Int, firstSymbol: Int): Unit =
    require(nMerges >= 0 && firstSymbol > 0 && firstSymbol + nMerges <= 0xD800,
      s"BPE private alphabet [${firstSymbol.toHexString}, " +
        s"${(firstSymbol + nMerges).toHexString}) must stay below the UTF-16 " +
        "surrogate range 0xD800: lower firstSymbol or nMerges")

  /** Word-type vocabulary with frequencies and the initial symbol string
    * (= the word itself: every char is a base symbol). */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("sym", col("w"))

  /** Run `nMerges` training rounds; returns the learned merges (driver
    * side — O(nMerges) values) and the final encoded vocabulary. */
  def trainVocab(docs: DataFrame, textCol: String, nMerges: Int,
      firstSymbol: Int = 0x4E00): (Seq[Merge], DataFrame) = {
    requireSymbolRange(nMerges, firstSymbol)
    var vocab = Rounds.materialize(wordVocab(docs, textCol))
    val expansion = scala.collection.mutable.Map.empty[Char, String]
    def expand(c: Char): String = expansion.getOrElse(c, c.toString)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val best = vocab
        .filter(length(col("sym")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("sym")) - 1),
          i => col("sym").substr(i.cast("int"), lit(2)))).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every word is one symbol already
      else {
        val Row(pair: String, cnt: Long) = best.head
        val newCh = (firstSymbol + r).toChar
        expansion(newCh) = expand(pair.charAt(0)) + expand(pair.charAt(1))
        merges += Merge(r, expansion(newCh), newCh.toString, cnt)
        vocab = Rounds.materialize(vocab.withColumn("sym",
          replace(col("sym"), lit(pair), lit(newCh.toString))))
      }
      r += 1
    }
    (merges.toSeq, vocab)
  }

  /** The learned merge table as a DataFrame:
    * `(merge_rank, merged_token, cnt)`. */
  def train(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, _) = trainVocab(docs, textCol, nMerges)
    merges.map(m => (m.rank, m.token, m.cnt))
      .toDF("merge_rank", "merged_token", "cnt")
  }

  /** Encode a corpus with a trained vocabulary: per document, the token
    * (word), character, and post-merge subword counts. The final vocab's
    * `sym` column IS the encoding of every word type, so encoding is one
    * broadcast join — the corpus never shuffles. */
  def encode(docs: DataFrame, textCol: String, idCol: String,
      encodedVocab: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(col(textCol), " ")).as("w"))
    toks.join(broadcast(encodedVocab.select(col("w"), col("sym"))), Seq("w"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_chars"),
        sum(length(col("sym"))).as("n_subwords"))
  }

  /** DuckDB mirror of [[trainVocab]] + [[train]]: `nMerges` rounds
    * unrolled as CTE chains — pair argmax by (cnt DESC, pair ASC), the
    * same `replace` rewrite, and an expansion table that resolves each
    * private char back to text. Generated, not handwritten: the SQL is a
    * deterministic function of the round count. */
  def trainOracleSql(nMerges: Int, firstSymbol: Int = 0x4E00): String = {
    requireSymbolRange(nMerges, firstSymbol)
    val rounds = (0 until nMerges).map { r =>
      val ch = s"chr(${firstSymbol + r})"
      s"""p$r AS MATERIALIZED (SELECT substr(sym, CAST(i AS INT), 2) AS pair,
         |         CAST(SUM(freq) AS BIGINT) AS cnt
         |       FROM v$r, unnest(range(1, length(sym))) AS u(i)
         |       GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
         |v${r + 1} AS MATERIALIZED (SELECT w, freq,
         |         replace(sym, (SELECT pair FROM p$r), $ch) AS sym FROM v$r),
         |e${r + 1} AS MATERIALIZED (SELECT * FROM e$r UNION ALL
         |       SELECT $ch AS ch,
         |         coalesce((SELECT e FROM e$r WHERE ch = substr((SELECT pair FROM p$r), 1, 1)),
         |                  substr((SELECT pair FROM p$r), 1, 1)) ||
         |         coalesce((SELECT e FROM e$r WHERE ch = substr((SELECT pair FROM p$r), 2, 1)),
         |                  substr((SELECT pair FROM p$r), 2, 1)) AS e),
         |r$r AS (SELECT $r AS merge_rank,
         |         (SELECT e FROM e${r + 1} WHERE ch = $ch) AS merged_token,
         |         (SELECT cnt FROM p$r) AS cnt)""".stripMargin
    }
    val unionAll = (0 until nMerges).map(r => s"SELECT * FROM r$r")
      .mkString(" UNION ALL ")
    s"""WITH v0 AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq, w AS sym FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |e0 AS (SELECT NULL::VARCHAR AS ch, NULL::VARCHAR AS e WHERE false),
       |${rounds.mkString(",\n")}
       |SELECT merge_rank, merged_token, cnt FROM (${unionAll})
       |ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB mirror of [[encode]] over the same unrolled chain. */
  def encodeOracleSql(nMerges: Int, firstSymbol: Int = 0x4E00): String = {
    val rounds = (0 until nMerges).map { r =>
      val ch = s"chr(${firstSymbol + r})"
      s"""p$r AS MATERIALIZED (SELECT substr(sym, CAST(i AS INT), 2) AS pair
         |       FROM v$r, unnest(range(1, length(sym))) AS u(i)
         |       GROUP BY pair ORDER BY CAST(SUM(freq) AS BIGINT) DESC, pair LIMIT 1),
         |v${r + 1} AS MATERIALIZED (SELECT w, freq,
         |         replace(sym, (SELECT pair FROM p$r), $ch) AS sym FROM v$r)""".stripMargin
    }
    s"""WITH v0 AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq, w AS sym FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |${rounds.mkString(",\n")},
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |         FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(length(t.w)) AS BIGINT) AS n_chars,
       |  CAST(SUM(length(v.sym)) AS BIGINT) AS n_subwords
       |FROM toks t JOIN v$nMerges v ON t.w = v.w
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of the per-language fertility rollup over [[encode]]:
    * the same generated train+encode CTE chain, closed with a lang-grouped
    * integral-milli aggregate instead of the per-doc projection. */
  def fertilityOracleSql(nMerges: Int, firstSymbol: Int = 0x4E00): String = {
    val perDoc = encodeOracleSql(nMerges, firstSymbol)
    val body = perDoc.stripPrefix("WITH ").stripSuffix(" ORDER BY doc_id")
    val Array(ctes, finalSel) = body.split("\nSELECT doc_id,", 2)
    s"""WITH $ctes,
       |enc AS (SELECT doc_id,${finalSel})
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(enc.n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(enc.n_subwords) AS BIGINT) AS n_subwords,
       |  CAST((1000 * SUM(CAST(enc.n_subwords AS HUGEINT)))
       |    // SUM(enc.n_words) AS BIGINT) AS subwords_per_word_milli,
       |  CAST((1000 * SUM(CAST(enc.n_chars AS HUGEINT)))
       |    // SUM(enc.n_subwords) AS BIGINT) AS chars_per_subword_milli
       |FROM enc JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }
}
