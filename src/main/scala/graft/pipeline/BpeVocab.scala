package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.algorithms.GraphAlgorithms

/**
 * Distributed byte-pair-encoding vocabulary induction — the tokenizer-
 * training step of a large-scale training-data pipeline (Sennrich et al.
 * 2016). The reference engine has no tokenizer trainer; this is
 * parity-plus surface for the 100 TB corpus story, built the way
 * industrial BPE trainers actually scale: the corpus collapses to a
 * (distinct word, count) table first — a single map-side-combinable
 * aggregation — and every merge round then runs on that table, which is
 * orders of magnitude smaller than the corpus.
 *
 * Merge semantics — the "two-pass replace" contract:
 * tokens live in a sentinel-joined string (`U+001F` between tokens,
 * `U+0004` as the end-of-word token, both outside the printable-ASCII
 * alphabet the word filter admits). Merging pair (a,b) is
 * `replace(replace(s, U+a+U+b+U, U+ab+U), ...)` — the literal
 * left-to-right non-overlapping `replace`, applied twice (the first pass
 * consumes the shared sentinel of back-to-back occurrences; the second
 * pass picks up the stragglers). This is exactly reproducible in Spark
 * (`functions.replace`), on the driver (`String.replace`), and in the
 * DuckDB oracle (`replace`) — all three scan identically. It differs
 * from classic greedy BPE only on runs of >= 5 identical tokens merged
 * with themselves (e.g. "aaaaa" with pair (a,a) merges positions
 * {1,2}+{4,5} instead of {1,2}+{3,4}) — vanishingly rare in text and
 * still fully deterministic.
 *
 * Pair selection per round: max total count, ties broken by (lhs, rhs)
 * ascending — binary string order, identical across Spark UTF8, Scala
 * ASCII, and DuckDB collation because the alphabet is ASCII-only.
 *
 * Scale shape: the word-count aggregation is the only corpus-sized
 * shuffle. Each round is one `groupBy(lhs, rhs)` over the word table
 * (partial aggregation, ~vocab-sized) plus a 1-row argmax collect; the
 * piece column accrues two codegen'd `replace` projections per round on
 * top of the cached word table. Below 4M distinct words one probe
 * collect gates and loads the whole table and the rounds run locally —
 * iterative Spark jobs cost fixed latency that dominates on small
 * vocabularies (the house adaptive pattern).
 */
object BpeVocab {

  val US = "\u001f" // token sentinel
  val EOW = "\u0004" // end-of-word token; not in [!-~] so never forgeable

  private val resultSchema = StructType(Seq(
    StructField("merge_round", IntegerType, nullable = false),
    StructField("lhs", StringType, nullable = false),
    StructField("rhs", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  /** Corpus -> (distinct word, count): lowercased whitespace tokens
    * restricted to printable ASCII (cross-engine codepoint safety — a
    * '(.)' char walk means the same thing in Java regex and RE2 there). */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .where(col("w").rlike("^[!-~]+$"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** word -> initial sentinel-joined piece string: U c1 U c2 U ... U EOW U */
  private def initialPiece(w: Column): Column =
    concat(lit(US), regexp_replace(w, "(.)", "$1" + US), lit(EOW), lit(US))

  private def mergePattern(lhs: String, rhs: String): (String, String) =
    (US + lhs + US + rhs + US, US + lhs + rhs + US)

  /** Train `rounds` merges over `df(textCol)`. Returns one row per merge:
    * (merge_round, lhs, rhs, merged, cnt), ordered by round. */
  def train(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds > 0, "rounds must be positive")
    val spark = df.sparkSession
    val words = wordCounts(df, textCol)
    val merges = GraphAlgorithms.collectRowsGated(words, 4000000L)
      .fold(trainDistributed(words, rounds))(trainLocal(_, rounds))
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.map(m =>
        Row(m._1, m._2, m._3, m._2 + m._3, m._4)), 1), resultSchema)
  }

  /** Driver-side rounds over the word table's rows, collected by the gate's
    * probe — same two-pass replace semantics via `String.replace`. */
  private def trainLocal(rows: Array[Row], rounds: Int): Seq[(Int, String, String, Long)] = {
    val cnts = rows.map(_.getLong(1))
    val pieces = rows.map { r =>
      val w = r.getString(0)
      US + w.map(c => c.toString + US).mkString + EOW + US
    }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val totals = new java.util.HashMap[(String, String), Long]()
      var i = 0
      while (i < pieces.length) {
        val toks = pieces(i).split(US).filter(_.nonEmpty)
        var j = 0
        while (j + 1 < toks.length) {
          val k = (toks(j), toks(j + 1))
          totals.merge(k, cnts(i), _ + _)
          j += 1
        }
        i += 1
      }
      if (totals.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        totals.forEach { (k, v) =>
          if (best == null || v > best._2 ||
            (v == best._2 && (k._1 < best._1._1 ||
              (k._1 == best._1._1 && k._2 < best._1._2)))) best = (k, v)
        }
        val ((lhs, rhs), total) = best
        val (pat, rep) = mergePattern(lhs, rhs)
        i = 0
        while (i < pieces.length) {
          pieces(i) = pieces(i).replace(pat, rep).replace(pat, rep)
          i += 1
        }
        out += ((r, lhs, rhs, total))
        r += 1
      }
    }
    out.result()
  }

  /** Distributed rounds: per-round pair aggregation over the cached word
    * table + 1-row argmax collect; merges stack as codegen'd replace
    * projections on the piece column. */
  private def trainDistributed(words: DataFrame, rounds: Int): Seq[(Int, String, String, Long)] = {
    val base = words.select(initialPiece(col("w")).as("piece"), col("cnt")).persist()
    try {
      var pieces = base
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val toks = filter(split(col("piece"), US), x => length(x) > 0)
        val top = pieces
          .select(toks.as("toks"), col("cnt"))
          .where(size(col("toks")) >= 2)
          .select(explode(transform(sequence(lit(0), size(col("toks")) - 2),
            i => struct(get(col("toks"), i).as("lhs"),
              get(col("toks"), i + 1).as("rhs")))).as("p"), col("cnt"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("cnt")).as("total"))
          .orderBy(col("total").desc, col("lhs").asc, col("rhs").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (lhs, rhs, total) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          val (pat, rep) = mergePattern(lhs, rhs)
          pieces = pieces.withColumn("piece",
            replace(replace(col("piece"), lit(pat), lit(rep)), lit(pat), lit(rep)))
          out += ((r, lhs, rhs, total))
          r += 1
        }
      }
      out.result()
    } finally base.unpersist()
  }

  /**
   * Tokenize with a trained vocabulary: trains `rounds` merges on the
   * corpus, applies them (in merge order, the two-pass replace contract)
   * to the DISTINCT-word table — tokenization is a dictionary join, the
   * corpus is never re-walked per merge — and emits per-document totals:
   * (id, n_words, bpe_tokens). `bpe_tokens` counts every token of the
   * final piece string INCLUDING the end-of-word token (merged into the
   * last piece or standalone). Documents with no admissible words (null
   * text, non-ASCII soup) report zeros rather than vanishing.
   */
  def encode(df: DataFrame, textCol: String, idCol: String, rounds: Int): DataFrame = {
    val merges = train(df, textCol, rounds).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val pieceCol = merges.foldLeft(initialPiece(col("w"))) { case (c, (l, rr)) =>
      val (pat, rep) = mergePattern(l, rr)
      replace(replace(c, lit(pat), lit(rep)), lit(pat), lit(rep))
    }
    val wordTok = wordCounts(df, textCol)
      .select(col("w"),
        size(filter(split(pieceCol, US), x => length(x) > 0)).cast(LongType).as("n_tok"))
    val docWords = df.select(col(idCol),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .where(col("w").rlike("^[!-~]+$"))
    val sums = docWords.join(broadcast(wordTok), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("bpe_tokens"))
    df.select(col(idCol)).join(sums, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"))
  }

  /** Shared CTE chain: word counts, initial pieces (word carried through
    * every round for [[encodeOracleSql]]), and per-round (pair counts,
    * argmax, two-pass replace) — all MATERIALIZED (DuckDB re-inlines
    * chained CTEs multiplicatively otherwise). */
  private def cteChain(rounds: Int, table: String, textCol: String): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH words AS MATERIALIZED (
              |  SELECT w, COUNT(*) AS cnt FROM (
              |    SELECT unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS w
              |    FROM $table) u
              |  WHERE regexp_full_match(w, '[!-~]+') GROUP BY w),
              |p0 AS MATERIALIZED (
              |  SELECT w, chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31), 'g')
              |         || chr(4) || chr(31) AS piece, cnt FROM words)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
                |c$r AS MATERIALIZED (
                |  SELECT toks[i] AS lhs, toks[i + 1] AS rhs, CAST(SUM(cnt) AS BIGINT) AS total
                |  FROM (SELECT list_filter(string_split(piece, chr(31)), x -> length(x) > 0) AS toks,
                |               cnt FROM p${r - 1}) t,
                |       UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
                |  GROUP BY 1, 2),
                |b$r AS MATERIALIZED (
                |  SELECT lhs, rhs, total FROM c$r ORDER BY total DESC, lhs, rhs LIMIT 1),
                |p$r AS MATERIALIZED (
                |  SELECT w, replace(replace(piece,
                |           chr(31) || lhs || chr(31) || rhs || chr(31), chr(31) || lhs || rhs || chr(31)),
                |           chr(31) || lhs || chr(31) || rhs || chr(31), chr(31) || lhs || rhs || chr(31))
                |         AS piece, cnt FROM p${r - 1}, b$r)""".stripMargin
    }
    sb.result()
  }

  /** DuckDB replay of `train` — same word filter, same sentinel walk,
    * same two-pass replace, same (total DESC, lhs, rhs) argmax, unrolled
    * per round with MATERIALIZED CTEs. */
  def oracleSql(rounds: Int, table: String = "documents", textCol: String = "text"): String = {
    val sb = new StringBuilder
    sb ++= cteChain(rounds, table, textCol)
    sb ++= "\nSELECT merge_round, lhs, rhs, merged, cnt FROM (\n"
    sb ++= (1 to rounds).map(r =>
      s"  SELECT $r AS merge_round, lhs, rhs, lhs || rhs AS merged, total AS cnt FROM b$r")
      .mkString("", "\n  UNION ALL\n", ")\n")
    sb ++= "ORDER BY merge_round"
    sb.result()
  }

  /** DuckDB replay of [[encode]]: final pieces joined back to every
    * document's admissible words, zeros preserved via left join. */
  def encodeOracleSql(rounds: Int, table: String = "documents",
                      textCol: String = "text", idCol: String = "doc_id"): String = {
    cteChain(rounds, table, textCol) + s""",
      |wt AS MATERIALIZED (
      |  SELECT w, CAST(len(list_filter(string_split(piece, chr(31)), x -> length(x) > 0)) AS BIGINT)
      |         AS n_tok FROM p$rounds),
      |dw AS MATERIALIZED (
      |  SELECT $idCol, w FROM (
      |    SELECT $idCol, unnest(string_split_regex(trim(lower($textCol)), '\\s+')) AS w
      |    FROM $table) u
      |  WHERE regexp_full_match(w, '[!-~]+')),
      |sums AS MATERIALIZED (
      |  SELECT dw.$idCol, CAST(COUNT(*) AS BIGINT) AS n_words,
      |         CAST(SUM(wt.n_tok) AS BIGINT) AS bpe_tokens
      |  FROM dw JOIN wt USING (w) GROUP BY 1)
      |SELECT d.$idCol, COALESCE(s.n_words, 0) AS n_words,
      |       COALESCE(s.bpe_tokens, 0) AS bpe_tokens
      |FROM $table d LEFT JOIN sums s ON d.$idCol = s.$idCol
      |ORDER BY d.$idCol""".stripMargin
  }
}
