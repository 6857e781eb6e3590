package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Byte-pair-encoding vocabulary induction + tokenization — the
  * subword layer a training pipeline sizes its shards in (whitespace
  * token counts under-count code/rare-word-heavy sources; BPE counts
  * are what the trainer actually sees).
  *
  * Scale shape: induction runs on the DISTINCT-WORD frequency table
  * (the classic BPE trick) — after ONE corpus-wide aggregate, every
  * merge iteration costs a combinable pair-count aggregate over the
  * vocabulary, never the corpus. Each iteration's argmax collect is
  * one row (control-plane). Tokenization applies the frozen merge
  * table as [[BpeMerges]] nested literal `replace` calls — pure
  * codegen string work, one corpus scan, zero shuffle.
  *
  * Exact-parity representation: a symbolized word is a string of
  * self-contained `^sym|` spans (words are pre-filtered to
  * `^[a-z]+$`, so the markers cannot collide with content). Merging
  * pair (a, b) is then the plain non-overlapping left-to-right
  * `replace(enc, '^a|^b|', '^ab|')` — because every span carries its
  * OWN start and end marker, adjacent matches share no characters,
  * so string replace is exactly the greedy symbol-level BPE merge
  * (including runs like `aaaa` → `aa aa`). Both engines run the
  * identical replaces, so results hash-match bit-for-bit; the DuckDB
  * oracle unrolls all [[BpeMerges]] iterations as CTE stages.
  */
object Bpe {

  /** Fixed merge-table size K — each induction iteration is one
    * vocabulary aggregate, and the oracle unrolls K CTE stages. */
  private[graft] val BpeMerges = 10

  /** Distinct-word frequency table, words pre-symbolized: one
    * `^c|`-span per character. The `^[a-z]+$` filter both defines the
    * inducted alphabet and guarantees the markers are collision-free. */
  private def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(expr(
      "filter(split(text, ' '), w -> w rlike '^[a-z]+$')")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(expr("regexp_replace(w, '(.)', '^$1|')").as("enc"), col("freq"))

  /** K greedy merges over `docs`: each iteration counts adjacent
    * symbol pairs across the (cached) vocabulary weighted by word
    * frequency, takes the (count DESC, pair ASC) argmax, and folds
    * the merge into the encodings. Deterministic: exact long counts,
    * total tie-break. */
  private[graft] def induceMerges(docs: DataFrame, k: Int = BpeMerges)
    : Seq[(String, String, Long)] = {
    val base = wordFreq(docs).persist()
    try {
      var cur = base
      val merges = Seq.newBuilder[(String, String, Long)]
      for (_ <- 1 to k) {
        val top = cur
          .withColumn("syms", expr(
            "transform(filter(split(enc, '[|]'), x -> x != ''), x -> substring(x, 2))"))
          .filter(expr("size(syms) >= 2"))
          .select(col("freq"), col("syms"),
            explode(expr("sequence(0, size(syms)-2)")).as("i"))
          .select(expr("syms[i]").as("a"), expr("syms[i+1]").as("b"), col("freq"))
          .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("c"))
          .orderBy(desc("c"), asc("a"), asc("b")).limit(1).collect()
        require(top.nonEmpty, s"BPE corpus exhausted before $k merges")
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((a, b, c))
        // a, b are ^[a-z]+ — safe to inline as SQL literals
        cur = cur.withColumn("enc",
          expr(s"replace(enc, '^$a|^$b|', '^$a$b|')"))
      }
      merges.result()
    } finally { base.unpersist(false); () }
  }

  /** Per-process memo of inducted merge tables, keyed by the corpus
    * files' identity ([[graft.sources.Store.derivedPath]]): induction is the
    * BUILD step — a frozen vocabulary artifact — so later executions
    * (and [[qBpeTokens]], which consumes it) load rather than
    * re-induce. Deterministic induction makes memo ≡ fresh. */
  private val mergeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String, Long)]]()

  private[graft] def mergesFor(s: SparkSession, dir: String): Seq[(String, String, Long)] =
    mergeMemo.computeIfAbsent(
      // key on documents.parquet — the table induction actually reads;
      // keying on the default (embeddings) would serve a stale merge
      // table after the corpus is regenerated under an untouched
      // embeddings file
      graft.sources.Store.derivedPath(dir, "bpe", Seq("documents.parquet")),
      _ => induceMerges(Tables.documents(s, dir)))

  /** The inducted merge table: (rnk, lft, rgt, cnt), rank order. */
  def qBpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mergesFor(s, dir).zipWithIndex
      .map { case ((a, b, c), i) => (i + 1, a, b, c) }
      .toDF("rnk", "lft", "rgt", "cnt")
      .orderBy("rnk")
  }

  /** Doc text → the span encoding with a space between words (the
    * space breaks `^a|^b|` across word boundaries, keeping merges
    * strictly word-internal). */
  private def encDocCol: Column = expr(
    "array_join(transform(filter(split(text, ' '), w -> w rlike '^[a-z]+$'), " +
      "w -> regexp_replace(w, '(.)', '^$1|')), ' ')")

  /** Apply the frozen merge table: K nested literal replaces. */
  private def applyMerges(enc: Column, merges: Seq[(String, String, Long)]): Column =
    merges.foldLeft(enc) { case (e, (a, b, _)) =>
      call_function("replace", e, lit(s"^$a|^$b|"), lit(s"^$a$b|"))
    }

  /** Per-doc BPE token counts under the corpus-inducted vocabulary:
    * every `|` closes one symbol, so the count is a length delta —
    * no explode, no shuffle, one codegen pass. */
  def qBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val merges = mergesFor(s, dir)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        applyMerges(encDocCol, merges).as("app"))
      .select(col("doc_id"),
        (length(col("app")) - length(call_function("replace", col("app"), lit("|"), lit(""))))
          .cast("int").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** (doc_id, toks) under the inducted vocabulary, for pipeline
    * stages that size work in real subword tokens —
    * [[Text.packShards]]'s optional token source. */
  def bpeTokenCounts(s: SparkSession, dir: String): DataFrame =
    qBpeTokens(s, dir).withColumnRenamed("bpe_tokens", "toks")

  /** BPE-token budget per chunk for [[qChunkBpe]]. */
  private[graft] val ChunkBpeBudget = 64L

  /** Chunking budgeted in SUBWORD tokens — [[Text]]'s q_chunk cuts
    * fixed WORD windows, but an embedding/context budget is a token
    * budget: chunks here are variable-length word runs packed
    * GREEDILY — a word whose cost would push the running sum past
    * [[ChunkBpeBudget]] starts the next chunk (words never split), so
    * every chunk's token sum is ≤ the budget, except a chunk whose
    * single opening word alone exceeds it (it can't be split, so it
    * rides alone). This is the guarantee an embedding/context-window
    * consumer actually sizes against — unlike [[Text.packShards]],
    * which deliberately CUTS docs at fixed shard boundaries.
    *
    * Scale shape: per-word token costs come from the DISTINCT-word
    * table (apply the frozen merges once per vocabulary entry, tiny →
    * broadcast); the corpus side is one posexplode + broadcast cost
    * join, ONE shuffle to regroup each doc's words, and a per-doc
    * greedy fold (`aggregate` HOF — budget resets are inherently
    * sequential per doc, but each doc folds independently and in
    * codegen; cost is linear in the doc's word count, the same bound
    * as reading it). The final per-chunk regroup reuses the doc_id
    * partitioning — no second shuffle. Words outside the inducted
    * `[a-z]+` alphabet cost 0 tokens (they are not
    * subword-tokenized), mirroring [[qBpeTokens]]. */
  def qChunkBpe(s: SparkSession, dir: String): DataFrame =
    chunkByBpe(Tables.documents(s, dir), mergesFor(s, dir))

  private[graft] def chunkByBpe(docs: DataFrame,
    merges: Seq[(String, String, Long)]): DataFrame = {
    val app = applyMerges(expr("regexp_replace(w, '(.)', '^$1|')"), merges)
    val wt = docs.select(explode(expr(
      "filter(split(text, ' '), w -> w rlike '^[a-z]+$')")).as("w"))
      .distinct()
      .select(col("w"),
        (length(app) - length(call_function("replace", app, lit("|"), lit(""))))
          .cast("long").as("wtoks"))
    val words = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    words.join(broadcast(wt), Seq("w"), "left")
      .na.fill(0L, Seq("wtoks"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("w"), col("wtoks"))))
        .as("ws"))
      // the greedy fold: carry (current chunk, tokens used in it) and
      // emit each word's chunk id; `used > 0` keeps an oversized
      // opening word in its own chunk instead of an empty one
      .withColumn("ids", expr(s"""
        aggregate(ws,
          named_struct('chunk', CAST(0 AS BIGINT), 'used', CAST(0 AS BIGINT),
            'ids', CAST(array() AS array<bigint>)),
          (a, x) -> IF(a.used > 0 AND a.used + x.wtoks > $ChunkBpeBudget,
            named_struct('chunk', a.chunk + 1, 'used', x.wtoks,
              'ids', concat(a.ids, array(a.chunk + 1))),
            named_struct('chunk', a.chunk, 'used', a.used + x.wtoks,
              'ids', concat(a.ids, array(a.chunk)))),
          a -> a.ids)"""))
      .select(col("doc_id"), expr("inline(arrays_zip(ws, ids))"))
      .select(col("doc_id"), col("ws.pos").as("pos"), col("ws.w").as("w"),
        col("ws.wtoks").as("wtoks"), col("ids").as("chunk_id"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("wtoks")).as("bpe_toks"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(pos, w))), x -> x.w), ' '))")
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  // ---------------------------------------------------------------
  // DuckDB oracle: the SAME induction unrolled as K CTE stages.
  // Stage i: pair counts over w{i} (index the symbol list), the
  // (count DESC, pair ASC) argmax b{i}, then w{i+1} folds the merge
  // in via the identical replace. Duck's SUM(BIGINT) is HUGEINT —
  // cast back at the edges.

  private def w0Sql: String =
    """w0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '^\1|', 'g') AS enc,
      |    CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY 1)""".stripMargin

  private def stageSql(i: Int): String = {
    val (a, b) = (s"(SELECT a FROM b$i)", s"(SELECT b FROM b$i)")
    s"""p$i AS MATERIALIZED (SELECT syms[x] AS a, syms[x + 1] AS b, SUM(freq) AS c FROM (
       |    SELECT unnest(range(1, len(syms))) AS x, syms, freq FROM (
       |      SELECT list_transform(list_filter(string_split(enc, '|'),
       |        z -> z <> ''), z -> z[2:]) AS syms, freq FROM w$i))
       |  GROUP BY 1, 2),
       |b$i AS MATERIALIZED (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
       |w${i + 1} AS MATERIALIZED (SELECT replace(enc, '^' || $a || '|^' || $b || '|',
       |    '^' || $a || $b || '|') AS enc, freq FROM w$i)""".stripMargin
  }

  private def mergeCtes: String =
    (w0Sql +: (0 until BpeMerges).map(stageSql)).mkString(",\n")

  val qBpeVocabSql: String = {
    val rows = (0 until BpeMerges)
      .map(i => s"SELECT ${i + 1} AS rnk, a AS lft, b AS rgt, CAST(c AS BIGINT) AS cnt FROM b$i")
      .mkString("\n  UNION ALL ")
    s"WITH\n$mergeCtes\nSELECT * FROM (\n  $rows) ORDER BY rnk"
  }

  val qBpeTokensSql: String = {
    val applied = (0 until BpeMerges).foldLeft("encdoc") { (e, i) =>
      val (a, b) = (s"(SELECT a FROM b$i)", s"(SELECT b FROM b$i)")
      s"replace($e, '^' || $a || '|^' || $b || '|', '^' || $a || $b || '|')"
    }
    s"""WITH
       |$mergeCtes,
       |d AS MATERIALIZED (SELECT doc_id, array_to_string(list_transform(
       |    list_filter(string_split(text, ' '),
       |      w -> regexp_matches(w, '^[a-z]+$$')),
       |    w -> regexp_replace(w, '(.)', '^\\1|', 'g')), ' ') AS encdoc
       |  FROM documents)
       |SELECT doc_id, CAST(length(app) - length(replace(app, '|', '')) AS INT)
       |    AS bpe_tokens
       |FROM (SELECT doc_id, $applied AS app FROM d) ORDER BY doc_id""".stripMargin
  }

  /** [[qChunkBpe]]'s oracle: the per-word token costs fall out of the
    * FINAL merge stage for free — w{K}'s encodings already carry all
    * K merges, so wtoks is a length delta and the original word is
    * the encoding with its markers stripped. The greedy budget fold
    * is a recursive CTE advancing every doc one word per step (steps
    * = max words per doc), the same (chunk, used) recurrence the
    * Spark fold runs. */
  val qChunkBpeSql: String =
    s"""WITH RECURSIVE
       |$mergeCtes,
       |wt AS MATERIALIZED (SELECT replace(replace(enc, '^', ''), '|', '') AS w,
       |    CAST(length(enc) - length(replace(enc, '|', '')) AS BIGINT) AS wtoks
       |  FROM w$BpeMerges),
       |x AS MATERIALIZED (SELECT doc_id, pos, ws[pos] AS w FROM (
       |    SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM (
       |      SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
       |c AS MATERIALIZED (SELECT x.doc_id, x.pos, x.w,
       |    COALESCE(wt.wtoks, 0) AS wtoks
       |  FROM x LEFT JOIN wt ON wt.w = x.w),
       |rec AS (
       |  SELECT doc_id, 0 AS pos, CAST(0 AS BIGINT) AS chunk,
       |    CAST(0 AS BIGINT) AS used
       |  FROM (SELECT DISTINCT doc_id FROM c)
       |  UNION ALL
       |  SELECT c.doc_id, c.pos,
       |    CASE WHEN r.used > 0 AND r.used + c.wtoks > $ChunkBpeBudget
       |      THEN r.chunk + 1 ELSE r.chunk END,
       |    CASE WHEN r.used > 0 AND r.used + c.wtoks > $ChunkBpeBudget
       |      THEN c.wtoks ELSE r.used + c.wtoks END
       |  FROM rec r JOIN c ON c.doc_id = r.doc_id AND c.pos = r.pos + 1)
       |SELECT doc_id, chunk_id, COUNT(*) AS n_words,
       |  CAST(SUM(wtoks) AS BIGINT) AS bpe_toks,
       |  md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
       |FROM (SELECT r.doc_id, r.pos, c.w, c.wtoks, r.chunk AS chunk_id
       |      FROM rec r JOIN c ON c.doc_id = r.doc_id AND c.pos = r.pos)
       |GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""".stripMargin

  /** Per-source tokenizer fertility under the frozen vocabulary —
    * the curation signal a tokenizer-aware mixer reads: fertility
    * (subword tokens per word, permille) and compression (characters
    * per subword token, permille) per source. A source the vocabulary
    * fits well sits near 1000 fertility / high compression; an
    * out-of-distribution source fragments into per-character symbols
    * and its context-window cost balloons — this query prices that
    * before mixing. Only inducted-alphabet words (`[a-z]+`) count,
    * mirroring [[qBpeTokens]]; ratios are integer permille (floor
    * DIV), so the frame hash-matches the oracle exactly.
    *
    * Scale shape: the tokenization is the same single codegen corpus
    * pass as [[qBpeTokens]] (K nested literal replaces, no explode),
    * then ONE combinable aggregate on the source key — fertility at
    * 100 TB costs the corpus scan it cannot avoid and nothing else.
    *
    * Bench watch: regresses if the tokenization scan grows an explode
    * or a join. */
  def qBpeFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = mergesFor(s, dir)
    Tables.documents(s, dir)
      .select($"source",
        expr("filter(split(text, ' '), w -> w rlike '^[a-z]+$')").as("ws"))
      .select($"source",
        size($"ws").cast("long").as("nw"),
        expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))").as("nc"),
        applyMerges(expr(
          "array_join(transform(ws, w -> regexp_replace(w, '(.)', '^$1|')), ' ')"),
          merges).as("app"))
      .select($"source", $"nw", $"nc",
        (length($"app") -
          length(call_function("replace", $"app", lit("|"), lit(""))))
          .cast("long").as("nt"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nw").as("n_words"),
        sum($"nc").as("n_chars"), sum($"nt").as("bpe_toks"))
      .withColumn("fert_milli", when($"n_words" > 0,
        expr("(1000 * bpe_toks) DIV n_words")).otherwise(lit(0L)))
      .withColumn("cpt_milli", when($"bpe_toks" > 0,
        expr("(1000 * n_chars) DIV bpe_toks")).otherwise(lit(0L)))
      .orderBy($"source")
  }

  val qBpeFertilitySql: String = {
    val applied = (0 until BpeMerges).foldLeft("encdoc") { (e, i) =>
      val (a, b) = (s"(SELECT a FROM b$i)", s"(SELECT b FROM b$i)")
      s"replace($e, '^' || $a || '|^' || $b || '|', '^' || $a || $b || '|')"
    }
    s"""WITH
       |$mergeCtes,
       |d AS MATERIALIZED (SELECT source,
       |    list_filter(string_split(text, ' '),
       |      w -> regexp_matches(w, '^[a-z]+$$')) AS ws
       |  FROM documents),
       |e AS (SELECT source, CAST(len(ws) AS BIGINT) AS nw,
       |    CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0)
       |      AS BIGINT) AS nc,
       |    array_to_string(list_transform(ws,
       |      w -> regexp_replace(w, '(.)', '^\\1|', 'g')), ' ') AS encdoc
       |  FROM d),
       |f AS (SELECT source, nw, nc,
       |    CAST(length(app) - length(replace(app, '|', '')) AS BIGINT) AS nt
       |  FROM (SELECT source, nw, nc, $applied AS app FROM e)),
       |a AS (SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(nw) AS BIGINT) AS n_words,
       |    CAST(SUM(nc) AS BIGINT) AS n_chars,
       |    CAST(SUM(nt) AS BIGINT) AS bpe_toks
       |  FROM f GROUP BY 1)
       |SELECT source, n_docs, n_words, n_chars, bpe_toks,
       |  CASE WHEN n_words > 0 THEN (1000 * bpe_toks) // n_words
       |    ELSE 0 END AS fert_milli,
       |  CASE WHEN bpe_toks > 0 THEN (1000 * n_chars) // bpe_toks
       |    ELSE 0 END AS cpt_milli
       |FROM a ORDER BY source""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_vocab" -> (qBpeVocab _),
    "q_bpe_tokens" -> (qBpeTokens _),
    "q_chunk_bpe" -> (qChunkBpe _),
    "q_bpe_fertility" -> (qBpeFertility _))

  val oracles: Map[String, String] = Map(
    "q_bpe_vocab" -> qBpeVocabSql,
    "q_bpe_tokens" -> qBpeTokensSql,
    "q_chunk_bpe" -> qChunkBpeSql,
    "q_bpe_fertility" -> qBpeFertilitySql)
}
