package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.registry.Shared._

/** Text analytics over `documents`: tokenization and normalization, language
  * id, BM25 and phrase retrieval, BPE and Unigram-LM vocabularies, bigram
  * language models, token sketches, per-source drift and the dictionary
  * scan.
  */
object TextQueries {

  /** Words whose doubled bigram `"w w"` drives the overlap-divergence
    * face. Data contract making the token-adjacency oracle char-exact:
    * the corpus is single-space joined (asserted over all three scale
    * factors) and no vocabulary word has any of these as a proper prefix
    * or suffix — so every char-level occurrence of `"w w"` IS an
    * adjacent token pair, and the two counts are interchangeable for
    * n_all (the spec pins the automaton's char-level semantics on
    * fixtures where they differ).
    */
  private[graft] val OverlapBigramWords =
    Seq("batch", "sort", "merge", "group", "small", "window")

  /** The pinned word-vocabulary frame (ONE corpus tokenization) every
    * unigram training — default and sweep lengths — trains from.
    */
  private def sharedUnigramWords(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "unigramWords") {
      graft.ops.UnigramLm.wordVocab(table(s, dir, "documents")).localCheckpoint(true)
    }

  /** The trained Unigram-LM vocabulary (bounded driver-side piece list),
    * built once per (session, dir) for the vocab + encode faces.
    */
  private def sharedUnigramVocab(
      s: SparkSession, dir: String): Seq[graft.ops.UnigramLm.Piece] =
    sharedState(s, dir, "unigramLm") {
      graft.ops.UnigramLm.trainFromWords(sharedUnigramWords(s, dir))
    }

  /** The piece lengths `unigram_len_sweep` prices (4 = the family
    * default — that row must reproduce `unigram_lm_vocab`'s vocabulary
    * exactly, which its spec pins).
    */
  private[graft] val UnigramLenSweepLens = Seq(2, 3, 4, 6)

  /** Per-length trained vocabulary: length 4 IS the family's shared
    * training; other lengths memoize their own off the same word frame.
    */
  private def sharedUnigramVocabLen(
      s: SparkSession, dir: String, len: Int): Seq[graft.ops.UnigramLm.Piece] =
    if (len == graft.ops.UnigramLm.MaxPieceLen) sharedUnigramVocab(s, dir)
    else sharedState(s, dir, s"unigramLm_len$len") {
      graft.ops.UnigramLm.trainFromWords(sharedUnigramWords(s, dir), maxPieceLen = len)
    }

  /** The bounded co-occurrence pair-count frame at the registered knobs —
    * token_pmi and token_rules are pure projections over it (optimization
    * r16: each ran the identical df-band + vocab + pairing pipeline).
    * ≤ C(400, 2) rows of tokens + counts — scale-safe to pin.
    */
  private def sharedCooccurPairs(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "cooccurPairs400") {
      graft.ops.Cooccur
        .pairCountsFrame(
          table(s, dir, "documents"), minDfPct = 1, maxDfPct = 80, vocabK = 400, minPair = 5)
        .localCheckpoint(eager = true)
    }

  /** One Aho–Corasick scan of the lowercased corpus against its own
    * top-200-df token dictionary, checkpointed and shared by both
    * dict_scan faces.
    */
  private def sharedDictScan(s: SparkSession, dir: String): DataFrame =
    sharedState(s, dir, "dictScan200") {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("text"))
      val dict = graft.ops.DictScan.topTokenDictionary(docs, 200)
      graft.ops.DictScan.scanCounts(docs, dict).localCheckpoint(eager = true)
    }

  /** Language-mixing replay: chunk → trigram scores → the same
    * wins-if-≥-all-later CASE chain as the `lang_id_ngram` oracle, built
    * from [[graft.ops.TextAnalysis.LangTrigramProfiles]] (single source
    * of truth), then the per-doc majority rollup.
    */
  private def langMixingOracle: String = {
    val profs = graft.ops.TextAnalysis.LangTrigramProfiles
    val scoreCols = profs
      .map { case (lang, grams) =>
        grams.map(g => s"(length(lt)-length(replace(lt,'$g','')))/${g.length}")
          .mkString(" + ") + s" AS s_$lang"
      }
      .mkString(",\n    ")
    val langs = profs.map(_._1)
    val caseChain = langs.init.zipWithIndex
      .map { case (l, i) =>
        val later = langs.drop(i + 1).map(l2 => s"s_$l >= s_$l2").mkString(" AND ")
        s"WHEN $later THEN '$l'"
      }
      .mkString(" ")
    s"""WITH chunks AS (
      |  SELECT doc_id,
      |    unnest(range(0, greatest((length(text) + 79) // 80, 1))) AS k, text
      |  FROM documents WHERE length(text) > 0
      |), lc AS (
      |  SELECT doc_id, lower(substr(text, k * 80 + 1, 80)) AS lt FROM chunks
      |), scored AS (
      |  SELECT doc_id,
      |    $scoreCols
      |  FROM lc
      |), lang AS (
      |  SELECT doc_id, CASE $caseChain ELSE '${langs.last}' END AS lang FROM scored
      |), pl AS (
      |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS cnt FROM lang GROUP BY 1, 2
      |), agg AS (
      |  SELECT doc_id, lang, cnt,
      |    sum(cnt) OVER (PARTITION BY doc_id) AS n_chunks,
      |    count(*) OVER (PARTITION BY doc_id) AS n_langs,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, lang DESC) AS rk
      |  FROM pl
      |)
      |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
      |  CAST(n_langs AS BIGINT) AS n_langs, lang AS major_lang,
      |  CAST((2 * 10000 * cnt + n_chunks) // (2 * n_chunks) AS INT) AS major_share_bps,
      |  CAST(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END AS INT) AS is_mixed
      |FROM agg WHERE rk = 1""".stripMargin
  }

  /** DoReMi-step replay: the [[graft.ops.LanguageModel.domainExcessReweight]]
    * chain — reference LM (self-score inner join), proxy LM over the
    * `doc_id % sampleMod = 0` subsample with the smoothed LEFT-join
    * scoring (unseen bigram → c2 0, unseen context → ctx 0), per-source
    * NLL closes, boost, renormalize, uniform smoothing — term for term.
    */
  private def domainReweightOracle(sampleMod: Int, eta: Long, smooth: Long): String =
    s"""WITH $WsToksCte
      |), bg AS MATERIALIZED (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      |  FROM toks, unnest(range(1, len(t))) AS u(i)
      |  WHERE len(t) >= 2
      |), bc AS (
      |  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2
      |), lm AS MATERIALIZED (
      |  SELECT w1, w2, c2, sum(c2) OVER (PARTITION BY w1) AS ctx FROM bc
      |), v AS (SELECT count(DISTINCT w2) AS v FROM bc),
      |bcp AS (
      |  SELECT w1, w2, count(*) AS c2 FROM bg WHERE doc_id % $sampleMod = 0 GROUP BY 1, 2
      |), lmp AS MATERIALIZED (
      |  SELECT w1, w2, c2, sum(c2) OVER (PARTITION BY w1) AS ctx FROM bcp
      |), ctxp AS (SELECT w1, max(ctx) AS ctx1 FROM lmp GROUP BY 1),
      |vp AS (SELECT count(DISTINCT w2) AS v FROM bcp),
      |sref AS (
      |  SELECT bg.doc_id,
      |    CAST(floor(ln((CAST(lm.c2 AS DOUBLE) + 1.0e0)
      |        / (CAST(lm.ctx AS DOUBLE) + CAST(v.v AS DOUBLE)))
      |      * 1e6 + 0.5e0) AS BIGINT) AS lp
      |  FROM bg JOIN lm USING (w1, w2), v
      |), spx AS (
      |  SELECT bg.doc_id,
      |    CAST(floor(ln((CAST(coalesce(l.c2, 0) AS DOUBLE) + 1.0e0)
      |        / (CAST(coalesce(cx.ctx1, 0) AS DOUBLE) + CAST(vp.v AS DOUBLE)))
      |      * 1e6 + 0.5e0) AS BIGINT) AS lp
      |  FROM bg LEFT JOIN lmp l USING (w1, w2) LEFT JOIN ctxp cx USING (w1), vp
      |), aref AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nb, CAST(sum(lp) AS BIGINT) AS lpr
      |  FROM sref GROUP BY 1
      |), apx AS (
      |  SELECT doc_id, CAST(sum(lp) AS BIGINT) AS lpp FROM spx GROUP BY 1
      |), bys AS MATERIALIZED (
      |  SELECT d.source, CAST(sum(a.nb) AS BIGINT) AS n_bigrams,
      |    CAST(sum(-a.lpr) AS BIGINT) AS nr, CAST(sum(-p.lpp) AS BIGINT) AS np
      |  FROM aref a JOIN apx p USING (doc_id) JOIN documents d USING (doc_id)
      |  GROUP BY 1
      |), m2 AS MATERIALIZED (
      |  SELECT source, n_bigrams,
      |    (2*nr + n_bigrams) // (2*n_bigrams) AS nll_ref_micro,
      |    (2*np + n_bigrams) // (2*n_bigrams) AS nll_proxy_micro,
      |    greatest(0, (2*np + n_bigrams) // (2*n_bigrams)
      |      - (2*nr + n_bigrams) // (2*n_bigrams)) AS excess_micro
      |  FROM bys
      |), t AS (SELECT CAST(sum(n_bigrams) AS BIGINT) AS nbt, CAST(count(*) AS BIGINT) AS k FROM m2),
      |b AS MATERIALIZED (
      |  SELECT m2.*, t.k,
      |    (2*10000*n_bigrams + t.nbt) // (2*t.nbt) AS base_share_bps,
      |    ((2*10000*n_bigrams + t.nbt) // (2*t.nbt)) * (1000000 + $eta*excess_micro) AS raw
      |  FROM m2, t
      |), rt AS (SELECT CAST(sum(raw) AS BIGINT) AS rawt FROM b)
      |SELECT source, n_bigrams,
      |  CAST(base_share_bps AS BIGINT) AS base_share_bps,
      |  CAST(nll_ref_micro AS BIGINT) AS nll_ref_micro,
      |  CAST(nll_proxy_micro AS BIGINT) AS nll_proxy_micro,
      |  CAST(excess_micro AS BIGINT) AS excess_micro,
      |  CAST((2*10000*raw + rt.rawt) // (2*rt.rawt) AS BIGINT) AS reweight_bps,
      |  CAST(((10000 - $smooth) * ((2*10000*raw + rt.rawt) // (2*rt.rawt))
      |    + $smooth * ((2*10000 + b.k) // (2*b.k)) + 5000) // 10000 AS BIGINT) AS smoothed_bps
      |FROM b, rt""".stripMargin

  /** Shared CTEs reproducing [[graft.ops.DictScan]]'s registered faces:
    * the top-200-df lowercase token dictionary (space-prefixed patterns),
    * then per (doc, pattern) the NON-overlapping occurrence count in
    * `' ' || lower(text)` via the replace-length formula — equal to the
    * automaton's all-occurrence count because space-prefixed single-space
    * patterns have no self-border (DictScanSpec pins the theorem).
    */
  private val DictScanCtes: String =
    """WITH dtoks AS (
      |  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\s+'))) AS tok
      |  FROM documents
      |), ddf AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dtoks
      |  WHERE length(tok) > 0 GROUP BY 1
      |), ddict AS (
      |  SELECT ' ' || tok AS pattern FROM ddf ORDER BY df DESC, tok LIMIT 200
      |), dsc AS (
      |  SELECT d.doc_id, p.pattern,
      |    (length(' ' || lower(d.text)) - length(replace(' ' || lower(d.text), p.pattern, '')))
      |      // length(p.pattern) AS n
      |  FROM documents d, ddict p
      |), dhits AS MATERIALIZED (SELECT * FROM dsc WHERE n > 0)""".stripMargin

  /** BM25 replay, parameterized by the corpus predicate so the tombstone
    * query can hash against the surviving corpus with the same math.
    */
  private def bm25DirectOracle(pred: String): String =
      s"""WITH ${bm25TermCtes(s"documents WHERE $pred")}
        |), scored AS (
        |  -- (N-df+0.5)/(df+0.5)+1 == (2N+1)/(2df+1): the ln argument is ONE
        |  -- division of exact longs; idf micro-rounds on the spot. The
        |  -- k1=1.2/b=0.75 saturation factor, cleared by 10*total_dl, is an
        |  -- exact long fraction; the contribution rounds half-up by integer
        |  -- division — no float survives past the single ln.
        |  SELECT tf.doc_id,
        |    CAST(floor(ln(CAST(2*stats.n + 1 AS DOUBLE)
        |        / CAST(2*dfreq.df + 1 AS DOUBLE)) * 1.0e6 + 0.5e0) AS BIGINT) AS idf_micro,
        |    22 * stats.total_dl * tf.tf AS num,
        |    10 * stats.total_dl * tf.tf + 3 * stats.total_dl + 9 * tf.dl * stats.n AS den
        |  FROM tf JOIN dfreq USING (tok), stats
        |)
        |SELECT doc_id,
        |  CAST(sum((2*idf_micro*num + den) // (2*den)) AS BIGINT) AS score_micro
        |FROM scored GROUP BY 1
        |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin

  /** Direct-corpus BM25 replay — one oracle covers bm25_topk (scan path),
    * bm25_topk_indexed (sharded index path), and bm25_delta_merge
    * (snapshot+batch merged index): the access path changes, the math and
    * the result do not.
    */
  private val Bm25DirectOracle: String = bm25DirectOracle("1 = 1")

  /** DuckDB replay of [[graft.ops.UnigramLm]] hard-EM training: the word
    * vocabulary, the all-occurrence substring seed (singles + top-K
    * multis), then per round a recursive-CTE Viterbi wavefront (the DTW
    * oracle's row-carrying discipline: state = the DP prefix-score list
    * `b` plus the argmax-start list `a`, ties to the smallest start via
    * `list_min` over the argmax set), a backward recursive walk over `a`
    * emitting the chosen pieces, and the clamp-singles / prune-⌈3m/4⌉
    * M-step with the one micro-rounded ln. Ends in `${p}vocab${rounds + 1}`
    * (piece, cnt, lp). `maxLen` sets the band constants (look-back
    * `j − (maxLen−2)`, the trained piece-length bound); `p` prefixes
    * every CTE name so a piece-length sweep instantiates several chains
    * under one WITH RECURSIVE.
    */
  private def unigramEmRoundCtes(r: Int, maxLen: Int = 4, p: String = ""): String =
    s""", ${p}pm$r AS MATERIALIZED (
      |  SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS m FROM ${p}vocab$r
      |), ${p}fwd$r AS (
      |  SELECT word, freq, length(word) AS n, 0 AS j,
      |    [CAST(0 AS BIGINT)] AS b, CAST([] AS INT[]) AS a
      |  FROM ${p}w
      |  UNION ALL
      |  SELECT word, freq, n, j + 1, list_append(b, best),
      |    list_append(a, CAST(list_min(list_filter(range(greatest(1, j - ${maxLen - 2}), j + 2),
      |      i -> b[i] + element_at(m, substr(word, i, j + 2 - i))[1] = best)) AS INT))
      |  FROM (
      |    SELECT word, freq, n, j, b, a, m,
      |      list_max(list_filter(list_transform(range(greatest(1, j - ${maxLen - 2}), j + 2),
      |        i -> b[i] + element_at(m, substr(word, i, j + 2 - i))[1]),
      |        x -> x IS NOT NULL)) AS best
      |    FROM ${p}fwd$r, ${p}pm$r WHERE j < n)
      |), ${p}bk$r AS (
      |  SELECT word, freq, a, j FROM ${p}fwd$r WHERE j = n
      |  UNION ALL
      |  SELECT word, freq, a, a[j] - 1 AS j FROM ${p}bk$r WHERE j > 0
      |), ${p}cnt$r AS (
      |  SELECT substr(word, a[j], j - a[j] + 1) AS piece, CAST(sum(freq) AS BIGINT) AS c
      |  FROM ${p}bk$r WHERE j > 0 GROUP BY 1
      |), ${p}newv$r AS (
      |  SELECT v.piece, greatest(coalesce(c.c, 0), 1) AS c
      |  FROM (SELECT piece FROM ${p}vocab$r WHERE length(piece) = 1) v
      |  LEFT JOIN ${p}cnt$r c USING (piece)
      |  UNION ALL
      |  SELECT piece, c FROM (
      |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rk,
      |      count(*) OVER () AS mm
      |    FROM ${p}cnt$r WHERE length(piece) >= 2)
      |  WHERE rk <= (3 * mm + 3) // 4
      |), ${p}tot$r AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ${p}newv$r),
      |${p}vocab${r + 1} AS MATERIALIZED (
      |  SELECT piece, c AS cnt,
      |    CAST(floor(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1e6 + 0.5e0) AS BIGINT) AS lp
      |  FROM ${p}newv$r, ${p}tot$r
      |)""".stripMargin

  /** The unigram training chain WITHOUT the leading `WITH RECURSIVE `
    * keyword (callers prepend it once — the sweep composes several
    * prefixed chains under a single WITH).
    */
  private def unigramCtes(
      rounds: Int, seedMultiK: Int, maxLen: Int = 4, p: String = ""): String =
    s"""${p}w AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY 1
      |), ${p}sub AS (
      |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece, freq
      |  FROM ${p}w, unnest(range(1, length(word) + 1)) t(i), unnest(range(1, ${maxLen + 1})) u(l)
      |  WHERE i + l - 1 <= length(word)
      |), ${p}scnt AS (
      |  SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM ${p}sub GROUP BY 1
      |), ${p}v0all AS (
      |  SELECT piece, c FROM ${p}scnt WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, c FROM (
      |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rk
      |    FROM ${p}scnt WHERE length(piece) >= 2)
      |  WHERE rk <= $seedMultiK
      |), ${p}tot0 AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ${p}v0all),
      |${p}vocab1 AS MATERIALIZED (
      |  SELECT piece, c AS cnt,
      |    CAST(floor(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1e6 + 0.5e0) AS BIGINT) AS lp
      |  FROM ${p}v0all, ${p}tot0
      |)""".stripMargin +
      (1 to rounds).map(unigramEmRoundCtes(_, maxLen, p)).mkString

  /** DuckDB replay of the full BPE training loop, unrolled: the merge
    * count is a fixed literal, so the iteration that a recursive CTE
    * cannot express (each level needs a fresh cross-row aggregation) is
    * simply `nMerges` chained CTE blocks — per step: pair counts from the
    * current vocab, the argmax under the trainer's exact tie-break
    * (cnt desc, a, b), and the merge applied to every word. Symbol arrays
    * travel as strings with each symbol wrapped \x02…\x03 (control chars
    * cannot appear in whitespace-split tokens), which makes the
    * left-to-right non-overlapping merge EXACTLY `replace()`: global
    * string replace scans left to right and never rescans replaced text —
    * the same semantics as [[graft.ops.Bpe.mergeSyms]], with no separator
    * sharing between adjacent matches because every symbol carries its
    * own delimiters.
    */
  private def bpeMergesOracle(nMerges: Int): String = {
    val base =
      """WITH w AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents
        |  ) WHERE word <> '' GROUP BY 1
        |), v0 AS MATERIALIZED (
        |  SELECT freq,
        |    list_aggregate(
        |      list_transform(
        |        list_append(list_transform(range(1, length(word) + 1), i -> word[i]), '</w>'),
        |        x -> chr(2) || x || chr(3)),
        |      'string_agg', '') AS s
        |  FROM w
        |)""".stripMargin
    val steps = (1 to nMerges).map { i =>
      s""", pc$i AS MATERIALIZED (
         |  SELECT l[j] AS a, l[j + 1] AS b, sum(freq) AS cnt FROM (
         |    SELECT freq,
         |      regexp_extract_all(s, chr(2) || '([^' || chr(3) || ']*)' || chr(3), 1) AS l
         |    FROM v${i - 1}
         |  ), unnest(range(1, len(l))) AS t(j)
         |  GROUP BY 1, 2
         |), p$i AS MATERIALIZED (
         |  SELECT a, b FROM pc$i ORDER BY cnt DESC, a, b LIMIT 1
         |), v$i AS MATERIALIZED (
         |  SELECT freq, replace(s,
         |    chr(2) || (SELECT a FROM p$i) || chr(3) || chr(2) || (SELECT b FROM p$i) || chr(3),
         |    chr(2) || (SELECT a FROM p$i) || (SELECT b FROM p$i) || chr(3)) AS s
         |  FROM v${i - 1}
         |)""".stripMargin
    }.mkString
    val out = (1 to nMerges)
      .map(i => s"SELECT CAST($i AS INT) AS step, a, b, a || b AS merged FROM p$i")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")
    base + steps + out
  }

  /** Document-distinct tokens `tok`, the document count `nd`, the
    * 1%-80% document-frequency vocabulary `vocab` (top 400), and the
    * co-occurring vocabulary pairs `pairs(tok_a, tok_b, c_ab)` in at least
    * five documents.
    */
  private val TokPairCtes: String =
    s"""tok AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      |    FROM documents)
      |  WHERE tok <> ''
      |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
      |), vocab AS (
      |  SELECT tok, df FROM (
      |    SELECT tok, CAST(count(*) AS BIGINT) AS df,
      |      row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
      |    FROM tok GROUP BY tok
      |    HAVING count(*) * 100 >= (SELECT n_docs FROM nd) * 1
      |       AND count(*) * 100 <= (SELECT n_docs FROM nd) * 80)
      |  WHERE rk <= 400
      |), kept AS (
      |  SELECT t.doc_id, t.tok FROM tok t JOIN vocab v USING (tok)
      |), pairs AS (
      |  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 5""".stripMargin

  /** Exact two-word phrase ("table hash") occurrences per document:
    * a token at position p fills phrase slot i as candidate start p-i,
    * and a start with every slot filled is an occurrence.
    */
  private val PhraseMatchOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
      |), u AS (
      |  SELECT doc_id, unnest(toks) AS tok,
      |    CAST(generate_subscripts(toks, 1) AS BIGINT) - 1 AS pos
      |  FROM t
      |), off AS (
      |  SELECT * FROM (VALUES ('table', CAST(0 AS BIGINT)), ('hash', CAST(1 AS BIGINT)))
      |    o(tok, slot)
      |), occ AS (
      |  SELECT u.doc_id, u.pos - o.slot AS st
      |  FROM u JOIN off o USING (tok)
      |  GROUP BY 1, 2 HAVING count(*) = 2
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
      |  CAST(min(st) AS BIGINT) AS first_pos
      |FROM occ GROUP BY 1""".stripMargin

  /** Count-min sketch (4 rows x 64 buckets, md5 row hashes) over the
    * non-empty corpus tokens, and the eight probe tokens' buckets `pb`.
    */
  private val CmsProbeCtes: String =
    s"""tok AS (
      |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t FROM documents
      |), tok2 AS (SELECT t FROM tok WHERE t <> ''),
      |rows_j AS (SELECT unnest(range(4)) AS j),
      |sketch AS (
      |  SELECT j, CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '-' || t), 1, 8)) AS BIGINT) % 64 AS bucket,
      |    count(*) AS cnt
      |  FROM tok2, rows_j GROUP BY 1, 2
      |), probes AS (
      |  SELECT unnest(['table','scan','merge','the','data','query','value','xyzzy_absent']) AS token
      |), pb AS (
      |  SELECT token, j,
      |    CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '-' || token), 1, 8)) AS BIGINT) % 64 AS bucket
      |  FROM probes, rows_j""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("text_stats") { (s, dir) =>
      TextAnalysis.textStats(table(s, dir, "documents"))
    }.oracle(
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct,
        |  CAST(len(list_distinct(string_split_regex(lower(text), '\s+'))) AS INT) AS n_distinct_tokens
        |FROM documents""".stripMargin),
    Query("lang_id") { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
    }.oracle(
      """WITH scored AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['the','and','of','to','in','is'], t))) AS s_en,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS s_de,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['el','la','los','que','y','es'], t))) AS s_es,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['le','les','des','et','est','dans'], t))) AS s_fr,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['的','是','了','在','我'], t))) AS s_zh
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM scored""".stripMargin),
    Query("lang_id_confusion") { (s, dir) =>
      // How good is the stopword lang-ID where truth is known? Full
      // confusion matrix vs the corpus's lang label + each cell's share
      // of its true-language row in exact bps (diagonal = per-language
      // recall). One scan, languages²-bounded output.
      val cells = table(s, dir, "documents")
        .select(col("lang").as("lang_true"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_true"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang_true"))
      cells
        .withColumn("n_true", sum(col("n")).over(w))
        .select(
          col("lang_true"), col("lang_pred"), col("n"), col("n_true"),
          expr("CAST((2 * 10000 * n + n_true) div (2 * n_true) AS INT)").as("share_bps"))
    }.oracle(
      """WITH scored AS (
        |  SELECT doc_id, lang AS lang_true,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['the','and','of','to','in','is'], t))) AS s_en,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS s_de,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['el','la','los','que','y','es'], t))) AS s_es,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['le','les','des','et','est','dans'], t))) AS s_fr,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['的','是','了','在','我'], t))) AS s_zh
        |  FROM documents
        |), pred AS (
        |  SELECT lang_true,
        |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |         WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |         WHEN s_fr >= s_zh THEN 'fr'
        |         ELSE 'zh' END AS lang_pred
        |  FROM scored
        |), cells AS (
        |  SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
        |  FROM pred GROUP BY 1, 2
        |)
        |SELECT lang_true, lang_pred, n,
        |  CAST(sum(n) OVER (PARTITION BY lang_true) AS BIGINT) AS n_true,
        |  CAST((2 * 10000 * n + sum(n) OVER (PARTITION BY lang_true))
        |    // (2 * sum(n) OVER (PARTITION BY lang_true)) AS INT) AS share_bps
        |FROM cells""".stripMargin),
    Query("lang_id_margin") { (s, dir) =>
      // Selective prediction for the lang-ID gate: the argmax alone says
      // WHICH language, the top1-top2 margin says whether to TRUST it —
      // route low-margin docs to the expensive classifier, keep the rest
      // at scan speed. One MarkerCounts pass; best/second via a sorted
      // 5-int array; exact relative-margin bps.
      import graft.functions.ExactDecimal.scaledRatio
      val counts = graft.functions.MarkerCountsExpr
        .column(col("text"), TextAnalysis.LangMarkers.map(_._2))
      val sorted = array_sort(
        array(TextAnalysis.LangMarkers.indices.map(i => counts.getItem(i).cast("long")): _*))
      val nL = TextAnalysis.LangMarkers.size
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          element_at(sorted, nL).as("s_best"),
          element_at(sorted, nL - 1).as("s_second"))
        .select(
          col("doc_id"), col("lang_pred"), col("s_best"), col("s_second"),
          (col("s_best") - col("s_second")).as("margin"),
          scaledRatio(
            col("s_best") - col("s_second"),
            greatest(col("s_best"), lit(1L)),
            10000L).cast("long").as("conf_bps"))
    }.oracle(
      """WITH scored AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['the','and','of','to','in','is'], t))) AS s_en,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS s_de,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['el','la','los','que','y','es'], t))) AS s_es,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['le','les','des','et','est','dans'], t))) AS s_fr,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> list_contains(['的','是','了','在','我'], t))) AS s_zh
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
        |    list_sort([CAST(s_en AS BIGINT), CAST(s_de AS BIGINT), CAST(s_es AS BIGINT),
        |      CAST(s_fr AS BIGINT), CAST(s_zh AS BIGINT)]) AS l
        |  FROM scored
        |)
        |SELECT doc_id,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS lang_pred,
        |  l[5] AS s_best, l[4] AS s_second, l[5] - l[4] AS margin,
        |  CAST((20000 * (l[5] - l[4]) + greatest(l[5], 1)) // (2 * greatest(l[5], 1)) AS BIGINT)
        |    AS conf_bps
        |FROM m""".stripMargin),
    Query("doc_fingerprint") { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintHex(col("text")).as("fp_hex"))
    }.oracle(
      """SELECT doc_id, substr(md5(text), 1, 16) AS fp_hex FROM documents""".stripMargin),
    Query("token_topk") { (s, dir) =>
      table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    }.oracle(
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents)
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 50""".stripMargin),
    Query("lang_id_ngram") { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langIdNgram(col("text")).as("lang_pred"))
    }.oracle(
      """WITH lowered AS (SELECT doc_id, lower(text) AS lt FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    (length(lt)-length(replace(lt,'the','')))/3 + (length(lt)-length(replace(lt,'and','')))/3 + (length(lt)-length(replace(lt,' th','')))/3 + (length(lt)-length(replace(lt,'he ','')))/3 + (length(lt)-length(replace(lt,'ing','')))/3 + (length(lt)-length(replace(lt,'of ','')))/3 + (length(lt)-length(replace(lt,' of','')))/3 + (length(lt)-length(replace(lt,'ed ','')))/3 + (length(lt)-length(replace(lt,' in','')))/3 + (length(lt)-length(replace(lt,'ion','')))/3 AS s_en,
        |    (length(lt)-length(replace(lt,'der','')))/3 + (length(lt)-length(replace(lt,'ein','')))/3 + (length(lt)-length(replace(lt,'ich','')))/3 + (length(lt)-length(replace(lt,'nde','')))/3 + (length(lt)-length(replace(lt,'die','')))/3 + (length(lt)-length(replace(lt,'und','')))/3 + (length(lt)-length(replace(lt,'sch','')))/3 + (length(lt)-length(replace(lt,'ung','')))/3 + (length(lt)-length(replace(lt,'en ','')))/3 + (length(lt)-length(replace(lt,'cht','')))/3 AS s_de,
        |    (length(lt)-length(replace(lt,'de ','')))/3 + (length(lt)-length(replace(lt,' de','')))/3 + (length(lt)-length(replace(lt,'os ','')))/3 + (length(lt)-length(replace(lt,'la ','')))/3 + (length(lt)-length(replace(lt,' la','')))/3 + (length(lt)-length(replace(lt,'ión','')))/3 + (length(lt)-length(replace(lt,'ent','')))/3 + (length(lt)-length(replace(lt,'es ','')))/3 + (length(lt)-length(replace(lt,'ado','')))/3 + (length(lt)-length(replace(lt,'que','')))/3 AS s_es,
        |    (length(lt)-length(replace(lt,'es ','')))/3 + (length(lt)-length(replace(lt,'de ','')))/3 + (length(lt)-length(replace(lt,' de','')))/3 + (length(lt)-length(replace(lt,'ent','')))/3 + (length(lt)-length(replace(lt,'le ','')))/3 + (length(lt)-length(replace(lt,' le','')))/3 + (length(lt)-length(replace(lt,'nt ','')))/3 + (length(lt)-length(replace(lt,'la ','')))/3 + (length(lt)-length(replace(lt,'ion','')))/3 + (length(lt)-length(replace(lt,'des','')))/3 AS s_fr,
        |    (length(lt)-length(replace(lt,'的','')))/1 + (length(lt)-length(replace(lt,'是','')))/1 + (length(lt)-length(replace(lt,'了','')))/1 + (length(lt)-length(replace(lt,'在','')))/1 + (length(lt)-length(replace(lt,'我','')))/1 AS s_zh
        |  FROM lowered
        |)
        |SELECT doc_id, CASE
        |  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |  WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |  WHEN s_fr >= s_zh THEN 'fr'
        |  ELSE 'zh' END AS lang_pred
        |FROM scored""".stripMargin),
    Query("doc_lang_mixing") { (s, dir) =>
      // Code-switching screen: trigram lang-ID per 80-char chunk, rolled
      // up to majority language / share / mixed flag per doc — what a
      // whole-doc lang_id cannot see; map-side chunk explode + one
      // (doc, lang) aggregation (ops/TextAnalysis.scala).
      TextAnalysis.langMixing(table(s, dir, "documents"))
    }.oracle(langMixingOracle),
    Query("text_normalize") { (s, dir) =>
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          length(TextAnalysis.normalizeWhitespace(col("text"))).cast("int").as("n_norm_chars")
        )
    }.oracle(
      """SELECT doc_id,
        |  CAST(length(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS INT) AS n_norm_chars
        |FROM documents""".stripMargin),
    Query("repetition_stats") { (s, dir) =>
      // Gopher/C4-style repetition signal: share of the document's bigrams
      // taken by its most frequent bigram (high share = boilerplate/spam).
      // A per-document statistic → map-only native expression (zero
      // shuffles; the explode → two-groupBy form shuffles every corpus
      // bigram twice and is kept as the executable spec in TextAnalysisSpec).
      table(s, dir, "documents")
        .select(col("doc_id"), graft.functions.BigramStatsExpr.column(col("text")).as("bs"))
        .filter(col("bs").isNotNull)
        .select(
          col("doc_id"),
          col("bs.n_bigrams").as("n_bigrams"),
          col("bs.top_bigram_n").as("top_bigram_n"),
          round(col("bs.top_bigram_n") / col("bs.n_bigrams"), 4).as("top_share")
        )
    }.oracle(
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, len(string_split_regex(lower(text), '\s+'))),
        |    i -> string_split_regex(lower(text), '\s+')[i] || ' ' || string_split_regex(lower(text), '\s+')[i+1]
        |  )) AS gram
        |  FROM documents
        |  WHERE len(string_split_regex(lower(text), '\s+')) >= 2
        |), counted AS (
        |  SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |  CAST(sum(n) AS BIGINT) AS n_bigrams,
        |  CAST(max(n) AS BIGINT) AS top_bigram_n,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS top_share
        |FROM counted GROUP BY 1""".stripMargin),
    Query("bpe_token_stats") { (s, dir) =>
      val t = table(s, dir, "documents")
      t.select(
        col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        size(array_distinct(TextAnalysis.bpeTokens(col("text")))).as("n_distinct_bpe")
      )
    }.oracle(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS INT) AS n_bpe_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))) AS INT) AS n_distinct_bpe
        |FROM documents""".stripMargin),
    Query("doc_chunks") { (s, dir) =>
      // RAG/context-window splitter: sliding token chunks (size 8, stride
      // 4 — consecutive chunks share half their tokens). Map-only reshape,
      // exact token/char accounting (ops/TextAnalysis.scala).
      TextAnalysis.slidingTokenChunks(table(s, dir, "documents"), size = 8, stride = 4)
    }.oracle(
      s"""WITH $WsToksCte
        |), starts AS (
        |  SELECT doc_id, t, unnest(range(1, greatest(len(t), 1) + 1, 4)) AS start
        |  FROM toks WHERE len(t) >= 1
        |)
        |SELECT doc_id,
        |  CAST((start - 1) // 4 AS INT) AS chunk_idx,
        |  CAST(start AS INT) AS start_token,
        |  CAST(len(t[start : least(start + 7, len(t))]) AS INT) AS n_chunk_tokens,
        |  CAST(length(array_to_string(t[start : least(start + 7, len(t))], ' ')) AS BIGINT) AS chunk_chars
        |FROM starts""".stripMargin),
    Query("gopher_rules") { (s, dir) =>
      // Gopher-style quality gate (Rae et al. 2021 §A1.1): integer-exact
      // repetition + lexical signals and the keep decision. Map-only — the
      // per-doc n-gram sort replaces the corpus-wide explode→groupBy, so
      // there is NO shuffle at any corpus size (ops/TextAnalysis.scala).
      TextAnalysis.gopherRules(table(s, dir, "documents"))
    }.oracle(
      s"""WITH $GopherRulesCtes
        |SELECT * FROM gop""".stripMargin),
    Query("tfidf_top_terms") { (s, dir) =>
      TextAnalysis.tfidfTopTerms(table(s, dir, "documents"), k = 5)
    }.oracle(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2
        |), idf AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, idf.df,
        |    round(tf.tf * (ln((n.n + 1.0) / (idf.df + 1.0)) + 1.0), 4) AS tfidf
        |  FROM tf JOIN idf USING (token), n
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, token, tf, df, tfidf, rank FROM ranked WHERE rank <= 5""".stripMargin),
    Query("bm25_topk") { (s, dir) =>
      // Keyword search leg: postings-style BM25 (ops/Retrieval.scala) —
      // one corpus scan pre-filtered to the query terms, broadcast df,
      // TakeOrderedAndProject top-k. Micro-unit scores, oracle-exact.
      // Optimization r15: the top-10 slice of the shared top-20 frame
      // (total order: score desc, doc_id — identical rows).
      sharedBm25Top20(s, dir)
        .orderBy(col("score_micro").desc, col("doc_id")).limit(10)
    }.oracle(Bm25DirectOracle),
    Query("bm25_topk_indexed") { (s, dir) =>
      // Index-once-query-many retrieval: postings live md5-sharded in the
      // warehouse (built once per scale factor); the query's shard IN-list
      // prunes the scan at planning time. Identical scores to bm25_topk —
      // the same SQL oracle covers both paths.
      val loc = contentKeyedLoc(s, dir, "graft_postings_", "documents")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$loc/postings/_SUCCESS")) ||
        !fs.exists(new org.apache.hadoop.fs.Path(s"$loc/stats/_SUCCESS")))
        graft.ops.Retrieval.buildPostingsIndex(table(s, dir, "documents"), loc.toString)
      graft.ops.Retrieval.bm25TopKIndexed(
        s, loc.toString, queryTerms = Seq("table", "scan", "merge", "the"), k = 10)
    }.oracle(
      // identical result contract to bm25_topk: the index changes the
      // access path, not the math — one oracle covers both paths, and
      // bm25_delta_merge hashing equal to it IS the merged≡rebuilt proof
      Bm25DirectOracle),
    Query("bm25_delta_merge") { (s, dir) =>
      // Incremental index maintenance: build postings on a 90% snapshot,
      // MERGE the 10% batch (append-only, batch-sized cost), query the
      // merged index — and hash-match the full-corpus oracle, proving
      // merged ≡ rebuilt. Marker-gated so reruns don't re-append.
      val loc = contentKeyedLoc(s, dir, "graft_postings_delta_", "documents")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(loc, "_MERGED")
      if (!fs.exists(marker)) {
        fs.delete(loc, true) // drop any half-built state before rebuilding
        val docs = table(s, dir, "documents")
        graft.ops.Retrieval.buildPostingsIndex(
          docs.filter(col("doc_id") % 10 =!= 0), loc.toString)
        graft.ops.Retrieval.mergePostingsIndex(
          s, loc.toString, docs.filter(col("doc_id") % 10 === 0))
        fs.create(marker).close()
      }
      graft.ops.Retrieval.bm25TopKIndexed(
        s, loc.toString, queryTerms = Seq("table", "scan", "merge", "the"), k = 10)
    }.oracle(Bm25DirectOracle),
    Query("bm25_tombstone_topk") { (s, dir) =>
      // Deletes without an index rewrite: the doc_id % 29 erasure batch
      // rides as a (doc_id, dl) tombstone frame over the UNCHANGED shared
      // postings index — anti-join fixes the postings and df, a 1-row
      // correction fixes N/total_dl. Hash-matches the surviving-corpus
      // oracle: tombstoned ≡ rebuilt, the delete twin of bm25_delta_merge.
      val loc = contentKeyedLoc(s, dir, "graft_postings_", "documents")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$loc/postings/_SUCCESS")) ||
        !fs.exists(new org.apache.hadoop.fs.Path(s"$loc/stats/_SUCCESS")))
        graft.ops.Retrieval.buildPostingsIndex(table(s, dir, "documents"), loc.toString)
      val docs = table(s, dir, "documents")
      graft.ops.Retrieval.bm25TombstoneTopK(
        s, loc.toString,
        docs.filter(col("doc_id") % 29 === 0)
          .select(col("doc_id"),
            graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("dl")),
        queryTerms = Seq("table", "scan", "merge", "the"), k = 10)
    }.oracle(
      // tombstoned ≡ rebuilt: the oracle is simply BM25 over the corpus
      // minus the erasure batch
      bm25DirectOracle("doc_id % 29 != 0")),
    Query("phrase_match_counts") { (s, dir) =>
      // Exact phrase search (ops/Retrieval.scala): slot-offset candidate
      // starts + one (doc, start) aggregation — no chained positional
      // self-joins. Corpus scan is pre-filtered to the phrase's terms.
      graft.ops.Retrieval.phraseCount(
        table(s, dir, "documents"), phrase = Seq("table", "hash"))
    }.oracle(PhraseMatchOracle),
    Query("phrase_match_indexed") { (s, dir) =>
      // Index-once-query-many phrase search: positional postings live
      // md5-sharded in the warehouse; the phrase's shard IN-list prunes
      // the scan at planning time. Identical results to
      // phrase_match_counts — the same SQL oracle covers both paths.
      val loc = contentKeyedLoc(s, dir, "graft_positions_", "documents")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$loc/positions/_SUCCESS")) ||
        !fs.exists(new org.apache.hadoop.fs.Path(s"$loc/meta/_SUCCESS")))
        graft.ops.Retrieval.buildPositionalIndex(table(s, dir, "documents"), loc.toString)
      graft.ops.Retrieval.phraseCountIndexed(s, loc.toString, phrase = Seq("table", "hash"))
    }.oracle(
      // identical result contract to phrase_match_counts: the positional
      // index changes the access path, not the math — one oracle covers both
      PhraseMatchOracle),
    Query("bloom_token_stats") { (s, dir) =>
      // Bloom-filter membership tagging (ops/Bloom.scala): build a
      // constant-size (4096-bit) filter over the reference vocabulary
      // (docs 0-49), then probe every other doc's distinct tokens with a
      // MAP-ONLY literal-array test — the explicit form of a bloom
      // semi-join prefilter. n_bloom_hits ≥ n_true_hits always (no false
      // negatives); the gap is the observed false-positive count.
      val tok = table(s, dir, "documents")
        .select(
          col("doc_id"),
          explode(array_distinct(split(lower(col("text")), "\\s+"))).as("tok"))
        .filter(col("tok") =!= "")
      val refKeys = tok.filter(col("doc_id") < 50).select(col("tok")).distinct()
      val bits = graft.ops.Bloom.buildBits(refKeys, "tok", mBits = 4096, kHash = 3)
      tok
        .filter(col("doc_id") >= 50)
        .withColumn(
          "bm",
          graft.ops.Bloom.member(col("tok"), bits, mBits = 4096, kHash = 3).cast("long"))
        .join(broadcast(refKeys.withColumn("t", lit(1L))), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(col("bm")).as("n_bloom_hits"),
          sum(coalesce(col("t"), lit(0L))).as("n_true_hits"))
    }.oracle(
      // bit positions: md5_32('bf<i>-' || tok) % 4096; build = bit_or of
      // power-of-two masks grouped by pos//64; probe = all 3 bits set.
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''
        |), ref AS (
        |  SELECT DISTINCT tok FROM tok WHERE doc_id < 50
        |), idx AS (SELECT unnest(range(3)) AS i),
        |bpos AS (
        |  SELECT CAST(('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || '-' || tok), 1, 8))
        |    AS BIGINT) % 4096 AS pos
        |  FROM ref, idx
        |), bloom AS (
        |  -- 1<<63 overflow-checks in DuckDB; the sign-bit mask is spelled
        |  -- out as the long literal instead
        |  SELECT pos // 64 AS word,
        |    bit_or(CASE WHEN pos % 64 = 63 THEN CAST('-9223372036854775808' AS BIGINT)
        |      ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INT) END) AS bits
        |  FROM bpos GROUP BY 1
        |), probes AS (
        |  SELECT doc_id, tok FROM tok WHERE doc_id >= 50
        |), ppos AS (
        |  SELECT p.doc_id, p.tok,
        |    CAST(('0x' || substr(md5('bf' || CAST(i.i AS VARCHAR) || '-' || p.tok), 1, 8))
        |      AS BIGINT) % 4096 AS pos
        |  FROM probes p, idx i
        |), phit AS (
        |  SELECT doc_id, tok,
        |    min(CASE WHEN ((coalesce(b.bits, CAST(0 AS BIGINT)) >> CAST(pos % 64 AS INT)) & 1) = 1
        |      THEN 1 ELSE 0 END) AS bm
        |  FROM ppos LEFT JOIN bloom b ON b.word = pos // 64
        |  GROUP BY 1, 2
        |), truth AS (
        |  SELECT p.doc_id, p.tok, CASE WHEN r.tok IS NULL THEN 0 ELSE 1 END AS t
        |  FROM probes p LEFT JOIN ref r USING (tok)
        |)
        |SELECT h.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(h.bm) AS BIGINT) AS n_bloom_hits,
        |  CAST(sum(t.t) AS BIGINT) AS n_true_hits
        |FROM phit h JOIN truth t ON t.doc_id = h.doc_id AND t.tok = h.tok
        |GROUP BY 1""".stripMargin),
    Query("pii_stats") { (s, dir) =>
      // PII scan + redaction (map-only, three codegen'd regex passes). The
      // corpus is synthetic word salad, so the query injects deterministic
      // PII for every 7th doc — the IDENTICAL injection expression runs in
      // the oracle, so match counts and redacted lengths verify end-to-end.
      val inject = when(
        col("doc_id") % 7 === 0,
        concat(
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string"),
          lit(" tel 5551234567")
        )
      ).otherwise(lit(""))
      val aug = concat(col("text"), inject)
      val (emails, ipv4, longnums) = TextAnalysis.piiCounts(aug)
      table(s, dir, "documents").select(
        col("doc_id"),
        emails.as("n_emails"),
        ipv4.as("n_ipv4"),
        longnums.as("n_longnums"),
        length(TextAnalysis.piiRedact(aug)).cast("int").as("redacted_len")
      )
    }.oracle(
      """WITH aug AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 7 = 0
        |    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.' ||
        |         CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ||
        |         ' tel 5551234567'
        |    ELSE '' END AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(t, '\b\d{7,}\b')) AS INT) AS n_longnums,
        |  CAST(length(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[PII]', 'g'),
        |      '\b\d{7,}\b', '[PII]', 'g')
        |  ) AS INT) AS redacted_len
        |FROM aug""".stripMargin),
    Query("token_budget_by_source") { (s, dir) =>
      // Mix planning: per source, raw vs Gopher-gated doc/token mass and
      // the surviving-token share in exact bps — "what does each source
      // contribute AFTER filtering". Map-only gate + one bounded agg
      // (ops/TextAnalysis.scala).
      graft.ops.TextAnalysis.gopherTokenBudget(table(s, dir, "documents"))
    }.oracle(
      s"""WITH ${gopherStatCtes("toks", "doc_id, source", "documents")}
        |), gated AS (
        |  SELECT toks.source, n_tokens,
        |    CASE WHEN n_tokens BETWEEN 10 AND 100000
        |      AND round(CAST(word_chars AS DOUBLE) / greatest(n_tokens, 1), 4) BETWEEN 2.0 AND 12.0
        |      AND round(CAST(COALESCE(top2_chars, 0) AS DOUBLE) / greatest(n_chars, 1), 4) < 0.30
        |      AND round(CAST(COALESCE(dup5_chars, 0) AS DOUBLE) / greatest(n_chars, 1), 4) < 0.15
        |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
        |  FROM toks LEFT JOIN top2 ON toks.doc_id = top2.doc_id
        |             LEFT JOIN dup5 ON toks.doc_id = dup5.doc_id
        |)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(keep) AS BIGINT) AS n_docs_kept,
        |  CAST(sum(CASE WHEN keep = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept,
        |  CAST((CAST(sum(CASE WHEN keep = 1 THEN n_tokens ELSE 0 END) AS BIGINT) * 10000)
        |    // greatest(CAST(sum(n_tokens) AS BIGINT), 1) AS BIGINT) AS kept_bps
        |FROM gated GROUP BY source""".stripMargin),
    Query("bloom_fpp_sweep") { (s, dir) =>
      // Bloom sizing curve: fill factor and MEASURED false-positive rate
      // per candidate m over snapshot text-hashes, probed with true
      // non-members — the sketch-vs-truth row for the third sketch
      // family (ops/Bloom.scala). Same ≥250/<250 split as delta_dedup.
      val docs = table(s, dir, "documents")
      graft.ops.Bloom.fppSweep(
        docs.filter(col("doc_id") < 250).select(md5(col("text")).as("h")),
        docs.filter(col("doc_id") >= 250).select(md5(col("text")).as("h")))
    }.oracle(
      // replay build + probe bit-for-bit per candidate m; fpp measured
      // against true non-members (batch minus snapshot keys)
      """WITH snap AS (
        |  SELECT DISTINCT md5(text) AS k FROM documents WHERE doc_id < 250
        |), nm AS (
        |  SELECT DISTINCT md5(text) AS k FROM documents WHERE doc_id >= 250
        |  EXCEPT SELECT k FROM snap
        |), ms(m) AS (VALUES (1024), (4096), (16384)),
        |idx AS (SELECT CAST(unnest(range(3)) AS INT) AS i),
        |spos AS (
        |  SELECT DISTINCT ms.m,
        |    CAST(('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || '-' || k), 1, 8))
        |      AS BIGINT) % ms.m AS pos
        |  FROM snap, ms, idx
        |), bits AS (
        |  SELECT m, CAST(count(*) AS BIGINT) AS bits_set FROM spos GROUP BY 1
        |), ppos AS (
        |  SELECT ms.m, nm.k,
        |    CAST(('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || '-' || k), 1, 8))
        |      AS BIGINT) % ms.m AS pos
        |  FROM nm, ms, idx
        |), hits AS (
        |  SELECT m, CAST(count(*) AS BIGINT) AS n_fp FROM (
        |    SELECT p.m, p.k
        |    FROM ppos p JOIN spos s ON s.m = p.m AND s.pos = p.pos
        |    GROUP BY 1, 2 HAVING count(*) = 3)
        |  GROUP BY 1
        |), counts AS (
        |  SELECT CAST((SELECT count(*) FROM snap) AS BIGINT) AS n_keys,
        |    CAST((SELECT count(*) FROM nm) AS BIGINT) AS n_probes
        |)
        |SELECT ms.m AS m_bits, CAST(3 AS INT) AS k_hash, counts.n_keys, bits.bits_set,
        |  CAST((2 * 10000 * bits.bits_set + ms.m) // (2 * ms.m) AS INT) AS fill_bps,
        |  counts.n_probes,
        |  CAST(coalesce(hits.n_fp, 0) AS BIGINT) AS n_fp,
        |  CAST((2 * 10000 * coalesce(hits.n_fp, 0) + counts.n_probes)
        |    // (2 * counts.n_probes) AS INT) AS fpp_measured_bps
        |FROM ms JOIN bits ON bits.m = ms.m LEFT JOIN hits ON hits.m = ms.m, counts""".stripMargin),
    Query("reshard_movement_report") { (s, dir) =>
      // Consistent-hashing claim, measured: growing 16→17 shards moves
      // ~94% of docs under mod-hashing but ~6% under rendezvous, with
      // the post-grow balance alongside — the planning row before any
      // shard-count change (ops/Layout.scala).
      graft.ops.Layout.reshardMovementReport(table(s, dir, "documents"))
    }.oracle(
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |rv AS (
        |  SELECT id, CAST(t.s AS INT) AS s,
        |    CAST(('0x' || substr(md5('rdv' || CAST(t.s AS VARCHAR) || '-' ||
        |      CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) AS w
        |  FROM ids, range(17) t(s)
        |), r1 AS (
        |  SELECT id, s AS rdv1 FROM (
        |    SELECT id, s, row_number() OVER (PARTITION BY id ORDER BY w DESC, s DESC) AS rn
        |    FROM rv WHERE s < 16) WHERE rn = 1
        |), r2 AS (
        |  SELECT id, s AS rdv2 FROM (
        |    SELECT id, s, row_number() OVER (PARTITION BY id ORDER BY w DESC, s DESC) AS rn
        |    FROM rv) WHERE rn = 1
        |), base AS (
        |  SELECT ids.id, CAST(ids.id % 16 AS INT) AS mod1, CAST(ids.id % 17 AS INT) AS mod2,
        |    r1.rdv1, r2.rdv2
        |  FROM ids JOIN r1 ON r1.id = ids.id JOIN r2 ON r2.id = ids.id
        |), movm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN mod1 != mod2 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        |  FROM base
        |), movr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN rdv1 != rdv2 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        |  FROM base
        |), lm AS (SELECT CAST(max(c) AS BIGINT) AS max_load_after FROM
        |  (SELECT count(*) AS c FROM base GROUP BY mod2)),
        |lr AS (SELECT CAST(max(c) AS BIGINT) AS max_load_after FROM
        |  (SELECT count(*) AS c FROM base GROUP BY rdv2))
        |SELECT 'mod' AS scheme, movm.n_docs, movm.n_moved,
        |  CAST((2 * 10000 * movm.n_moved + movm.n_docs) // (2 * movm.n_docs) AS INT) AS moved_bps,
        |  lm.max_load_after
        |FROM movm, lm
        |UNION ALL
        |SELECT 'rendezvous', movr.n_docs, movr.n_moved,
        |  CAST((2 * 10000 * movr.n_moved + movr.n_docs) // (2 * movr.n_docs) AS INT),
        |  lr.max_load_after
        |FROM movr, lr""".stripMargin),
    Query("token_heavy_hitters") { (s, dir) =>
      // Misra-Gries sketch candidates + exact verification pass: EXACTLY
      // the tokens with frequency > n_tokens/51 — sketch noise cannot leak
      // into the result, so the query is oracle-exact while the exchange
      // carries ≤ 50 counters per partition in pass 1.
      val toks = table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      graft.ops.HeavyHitters.exactHeavyHitters(toks, "token", capacity = 50)
    }.oracle(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents
        |)
        |SELECT token, count(*) AS n
        |FROM tok
        |GROUP BY 1
        |HAVING count(*) > (SELECT count(*) FROM tok) // 51""".stripMargin),
    Query("lm_doc_scores") { (s, dir) =>
      // CCNet-style perplexity filter: corpus-trained bigram LM (add-one
      // smoothing), per-doc log-likelihood in micro-units, keep = average
      // above threshold. One training scan + one scoring scan; the LM
      // frame is vocabulary-bounded (ops/LanguageModel.scala).
      // Optimization r15: the memoized shared self-score frame.
      sharedLmSelfScore(s, dir)
    }.oracle(
      s"""WITH $BigramLmCtes
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(lp) AS BIGINT) AS lp_sum_micro
        |  FROM scored GROUP BY 1
        |)
        |SELECT doc_id, n_bigrams, lp_sum_micro,
        |  CAST(floor(CAST(lp_sum_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE) + 0.5e0) AS BIGINT) AS avg_lp_micro,
        |  CAST(CASE WHEN floor(CAST(lp_sum_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE) + 0.5e0) > -3600000
        |       THEN 1 ELSE 0 END AS INT) AS keep
        |FROM agg""".stripMargin),
    Query("ppl_bucket_filter") { (s, dir) =>
      // CCNet head/middle/tail split: rank docs by average bigram LM
      // log-likelihood, NTILE(3) over the total order, keep head+middle
      // (ops/LanguageModel.scala). The tile window sorts the per-DOC
      // score frame, not the token frame.
      // Optimization r15: rides the shared corpus bigram LM.
      val (lm, v) = sharedBigramLm(s, dir)
      graft.ops.LanguageModel.pplBucketsFrom(table(s, dir, "documents"), lm, v)
    }.oracle(
      // same LM + per-doc average as lm_doc_scores, then NTILE(3) over
      // (avg DESC, doc_id) — head+middle keep, tail drops
      s"""WITH $BigramLmCtes
        |), agg AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5e0) AS BIGINT)
        |      AS avg_lp_micro
        |  FROM scored GROUP BY 1
        |)
        |SELECT doc_id, avg_lp_micro,
        |  CAST(ntile(3) OVER (ORDER BY avg_lp_micro DESC, doc_id) AS INT) AS tile,
        |  CAST(CASE WHEN ntile(3) OVER (ORDER BY avg_lp_micro DESC, doc_id) <= 2
        |    THEN 1 ELSE 0 END AS INT) AS keep
        |FROM agg""".stripMargin),
    Query("token_entropy") { (s, dir) =>
      // Per-doc unigram entropy in micro-nats/token: the information-
      // density quality signal (boilerplate scores low). One scan, one
      // (doc, token) agg, per-doc total via window — no second scan
      // (ops/TextAnalysis.scala).
      graft.ops.TextAnalysis.tokenEntropy(table(s, dir, "documents"))
    }.oracle(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents
        |), tc AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tok WHERE tok <> '' GROUP BY 1, 2
        |), t2 AS (
        |  SELECT doc_id, c,
        |    sum(c) OVER (PARTITION BY doc_id) AS n
        |  FROM tc
        |), t3 AS (
        |  SELECT doc_id, n,
        |    c * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1e6 + 0.5e0) AS BIGINT)
        |      AS term
        |  FROM t2
        |)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST((2 * sum(term) + max(n)) // (2 * max(n)) AS BIGINT) AS h_micro
        |FROM t3 GROUP BY doc_id""".stripMargin),
    Query("hll_distinct_tokens") { (s, dir) =>
      // Portable HyperLogLog (m=64): leading zeros via length(bin(w)) — a
      // string length, identical in every engine — and an EXACT integer
      // harmonic-mean denominator (Σ 2^(32-rho) as a long), so the whole
      // sketch + estimate is oracle-checkable (ops/HeavyHitters.scala).
      val toks = table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      graft.ops.HeavyHitters.hllEstimate(graft.ops.HeavyHitters.hllRegisters(toks, "token"))
    }.oracle(
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS t FROM documents
        |), tok2 AS (SELECT t FROM tok WHERE t <> ''),
        |h AS (
        |  SELECT CAST(('0x' || substr(md5('hll-' || t), 1, 8)) AS BIGINT) AS hv FROM tok2
        |), b AS (
        |  SELECT CAST(hv % 64 AS INT) AS bucket, hv // 64 AS w FROM h
        |), r AS (
        |  SELECT bucket,
        |    max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS rho
        |  FROM b GROUP BY 1
        |), regs AS (
        |  SELECT g.bucket, CAST(COALESCE(r.rho, 0) AS INT) AS rho
        |  FROM (SELECT unnest(range(64)) AS bucket) g LEFT JOIN r ON g.bucket = r.bucket
        |), agg AS (
        |  SELECT CAST(sum(CAST(1 AS BIGINT) << (32 - rho)) AS BIGINT) AS s_scaled,
        |    CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
        |  FROM regs
        |)
        |SELECT CAST(64 AS INT) AS m, v_empty, s_scaled,
        |  CAST(floor(
        |    CASE WHEN (0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0)) <= 160.0e0
        |          AND v_empty > 0
        |    THEN 64.0e0 * ln(64.0e0 / CAST(v_empty AS DOUBLE))
        |    ELSE 0.709e0 * 4096.0e0 / (CAST(s_scaled AS DOUBLE) / 4294967296.0e0) END
        |    * 1e6 + 0.5e0) AS BIGINT) AS est_micro
        |FROM agg""".stripMargin),
    Query("bpe_pair_counts") { (s, dir) =>
      // First BPE training iteration: adjacent-symbol pair frequencies
      // over the word vocabulary (corpus collapsed to distinct words —
      // the reduction that makes tokenizer training corpus-scale). Top 20
      // with the trainer's exact tie-break.
      graft.ops.Bpe
        .pairCounts(graft.ops.Bpe.initialVocab(table(s, dir, "documents")))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(20)
    }.oracle(
      """WITH w AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents
        |  ) WHERE word <> '' GROUP BY 1
        |), syms AS (
        |  SELECT word, freq,
        |    list_append(list_transform(range(1, length(word) + 1), i -> word[i]), '</w>') AS s
        |  FROM w
        |), pairs AS (
        |  SELECT freq, s[i] AS a, s[i + 1] AS b
        |  FROM syms, unnest(range(1, len(s))) AS t(i)
        |)
        |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM pairs GROUP BY 1, 2
        |ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin),
    Query("bpe_merges") { (s, dir) =>
      // Full BPE training loop (ops/Bpe.scala): 10 learned merge rules.
      // Iterations run on the word-vocab frame only; the corpus is
      // scanned once. Merge sequence is spec-verified against a local
      // reference trainer (BpeSpec); first iteration oracle-anchored by
      // bpe_pair_counts.
      graft.ops.Bpe.mergesDf(table(s, dir, "documents"), nMerges = 10)
    }.oracle(bpeMergesOracle(10)),
    Query("unigram_lm_vocab") { (s, dir) =>
      // The OTHER production tokenizer family: Unigram-LM hard-EM
      // training (Kudo 2018) on the collapsed word-vocab frame —
      // substring seed (singles + top-300 multis), 2 EM rounds of
      // broadcast Viterbi + bounded count collect, clamp-singles /
      // prune-⌈3m/4⌉ M-step, one micro-rounded ln. The oracle replays
      // every round: recursive-CTE Viterbi wavefront, smallest-start
      // ties, the same prune ranks. ONE training serves both unigram
      // faces (sharedState) (ops/UnigramLm.scala).
      graft.ops.UnigramLm.vocabDfFrom(s, sharedUnigramVocab(s, dir))
    }.oracle(
      s"""WITH RECURSIVE ${unigramCtes(rounds = 2, seedMultiK = 300)}
        |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, cnt,
        |  lp AS logp_micro
        |FROM vocab3""".stripMargin),
    Query("unigram_encode_stats") { (s, dir) =>
      // Encode the corpus with the trained Unigram-LM: each DISTINCT
      // word Viterbi-segments once under the final vocabulary, docs
      // broadcast-join the word→piece-count table — the
      // bpe_encode_stats split, different tokenizer; the shared trained
      // vocabulary (ops/UnigramLm.scala).
      graft.ops.UnigramLm.encodeStatsWith(
        table(s, dir, "documents"), sharedUnigramVocab(s, dir))
    }.oracle(
      // one more Viterbi wavefront under the FINAL vocabulary; per-word
      // piece counts broadcast onto the corpus tokens
      s"""WITH RECURSIVE ${unigramCtes(rounds = 2, seedMultiK = 300)}, pmE AS MATERIALIZED (
        |  SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS m FROM vocab3
        |), fwdE AS (
        |  SELECT word, length(word) AS n, 0 AS j,
        |    [CAST(0 AS BIGINT)] AS b, CAST([] AS INT[]) AS a
        |  FROM w
        |  UNION ALL
        |  SELECT word, n, j + 1, list_append(b, best),
        |    list_append(a, CAST(list_min(list_filter(range(greatest(1, j - 2), j + 2),
        |      i -> b[i] + element_at(m, substr(word, i, j + 2 - i))[1] = best)) AS INT))
        |  FROM (
        |    SELECT word, n, j, b, a, m,
        |      list_max(list_filter(list_transform(range(greatest(1, j - 2), j + 2),
        |        i -> b[i] + element_at(m, substr(word, i, j + 2 - i))[1]),
        |        x -> x IS NOT NULL)) AS best
        |    FROM fwdE, pmE WHERE j < n)
        |), bkE AS (
        |  SELECT word, a, j FROM fwdE WHERE j = n
        |  UNION ALL
        |  SELECT word, a, a[j] - 1 AS j FROM bkE WHERE j > 0
        |), npc AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
        |  FROM bkE WHERE j > 0 GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(n.n_pieces) AS BIGINT) AS n_unigram_tokens, d.n_chars
        |FROM (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    unnest(string_split_regex(lower(text), '\\s+')) AS word
        |  FROM documents) d
        |JOIN npc n USING (word)
        |WHERE word <> ''
        |GROUP BY d.doc_id, d.n_chars""".stripMargin),
    Query("unigram_len_sweep") { (s, dir) =>
      // MaxPieceLen priced as a KNOB (the dedup_threshold_sweep
      // pattern): one hard-EM training per piece length — all off ONE
      // pinned corpus tokenization (sharedUnigramWords; the len-4 row
      // rides the family's shared training) — then a per-length census:
      // vocabulary size, multi-char pieces, and the freq-weighted
      // encoded-piece / word-char totals, computed on the VOCAB frame
      // only (Σ_w freq·|viterbi(w)| — the corpus never rescans per
      // length). compression = total_word_chars / total_pieces falls
      // out downstream (ops/UnigramLm.scala).
      import s.implicits._
      val words = sharedUnigramWords(s, dir)
      UnigramLenSweepLens.map { len =>
        val vocab = sharedUnigramVocabLen(s, dir, len)
        val bc = s.sparkContext.broadcast(vocab.map(p => p.piece -> p.logpMicro).toMap)
        val band = vocab.foldLeft(1)((m, p) => math.max(m, p.piece.length))
        words
          .as[(String, Long)]
          .map { case (w, f) =>
            (f * graft.ops.UnigramLm.viterbiSplits(w, bc.value, band).length, f * w.length)
          }
          .toDF("p", "c")
          .agg(sum(col("p")).as("total_pieces"), sum(col("c")).as("total_word_chars"))
          .select(
            lit(len.toLong).as("max_piece_len"),
            lit(vocab.size.toLong).as("vocab_size"),
            lit(vocab.count(_.piece.length >= 2).toLong).as("n_multi"),
            col("total_pieces"),
            col("total_word_chars"))
      }.reduce(_ unionByName _)
    }.oracle(
      // one full training + encode-census chain per sweep length, all
      // prefixed under ONE WITH RECURSIVE; per-length rows UNION ALL
      (UnigramLenSweepLens.map { l =>
        val p = s"u$l"
        s"""${unigramCtes(rounds = 2, seedMultiK = 300, maxLen = l, p = p)}, ${p}pmE AS MATERIALIZED (
          |  SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS m FROM ${p}vocab3
          |), ${p}fwdE AS (
          |  SELECT word, freq, length(word) AS n, 0 AS j,
          |    [CAST(0 AS BIGINT)] AS b, CAST([] AS INT[]) AS a
          |  FROM ${p}w
          |  UNION ALL
          |  SELECT word, freq, n, j + 1, list_append(b, best),
          |    list_append(a, CAST(list_min(list_filter(range(greatest(1, j - ${l - 2}), j + 2),
          |      i -> b[i] + element_at(m, substr(word, i, j + 2 - i))[1] = best)) AS INT))
          |  FROM (
          |    SELECT word, freq, n, j, b, a, m,
          |      list_max(list_filter(list_transform(range(greatest(1, j - ${l - 2}), j + 2),
          |        i -> b[i] + element_at(m, substr(word, i, j + 2 - i))[1]),
          |        x -> x IS NOT NULL)) AS best
          |    FROM ${p}fwdE, ${p}pmE WHERE j < n)
          |), ${p}bkE AS (
          |  SELECT word, freq, a, j FROM ${p}fwdE WHERE j = n
          |  UNION ALL
          |  SELECT word, freq, a, a[j] - 1 AS j FROM ${p}bkE WHERE j > 0
          |), ${p}npc AS MATERIALIZED (
          |  SELECT word, freq, CAST(count(*) AS BIGINT) AS n_pieces
          |  FROM ${p}bkE WHERE j > 0 GROUP BY 1, 2
          |)""".stripMargin
      }.mkString("WITH RECURSIVE ", ", ", "\n") +
        UnigramLenSweepLens.map { l =>
          val p = s"u$l"
          s"""SELECT CAST($l AS BIGINT) AS max_piece_len,
            |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}vocab3) AS vocab_size,
            |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}vocab3
            |    WHERE length(piece) >= 2) AS n_multi,
            |  (SELECT CAST(sum(freq * n_pieces) AS BIGINT) FROM ${p}npc) AS total_pieces,
            |  (SELECT CAST(sum(freq * length(word)) AS BIGINT) FROM ${p}w) AS total_word_chars""".stripMargin
        }.mkString("\nUNION ALL\n"))),
    Query("cms_error_report") { (s, dir) =>
      // CMS upper-bound tightness, measured: per probe token, the exact
      // corpus count next to the sketch estimate and the collision
      // overcount (est ≥ exact always — the absent-token row shows pure
      // collision noise). Exact leg is a scan-pushed isin filter.
      val toks = table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val probes = Seq("table", "scan", "merge", "the", "data", "query", "value", "xyzzy_absent")
      val est = graft.ops.HeavyHitters.cmsEstimate(
        graft.ops.HeavyHitters.cmsBuild(toks, "token", depth = 4, width = 64),
        probes, depth = 4, width = 64)
      val exact = toks.filter(col("token").isin(probes: _*))
        .groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("token"), "left")
        .select(
          col("token"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          col("est"),
          (col("est") - coalesce(col("n_exact"), lit(0L))).as("overcount"))
    }.oracle(
      s"""WITH $CmsProbeCtes
        |), est AS (
        |  SELECT token, CAST(min(COALESCE(cnt, 0)) AS BIGINT) AS est
        |  FROM pb LEFT JOIN sketch USING (j, bucket)
        |  GROUP BY 1
        |), ex AS (
        |  SELECT t AS token, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM tok2
        |  WHERE t IN ('table','scan','merge','the','data','query','value','xyzzy_absent')
        |  GROUP BY 1
        |)
        |SELECT e.token, coalesce(ex.n_exact, 0) AS n_exact, e.est,
        |  e.est - coalesce(ex.n_exact, 0) AS overcount
        |FROM est e LEFT JOIN ex ON ex.token = e.token""".stripMargin),
    Query("cms_token_counts") { (s, dir) =>
      // Count-min sketch with the portable md5 hash family: the exchange
      // carries ≤ depth·width counters per partition no matter the
      // vocabulary; estimates are min-over-rows upper bounds. Sketch AND
      // estimates bit-reproducible in SQL (ops/HeavyHitters.scala).
      val toks = table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val sketch = graft.ops.HeavyHitters.cmsBuild(toks, "token", depth = 4, width = 64)
      graft.ops.HeavyHitters.cmsEstimate(
        sketch,
        Seq("table", "scan", "merge", "the", "data", "query", "value", "xyzzy_absent"),
        depth = 4, width = 64)
    }.oracle(
      s"""WITH $CmsProbeCtes
        |)
        |SELECT token, CAST(min(COALESCE(cnt, 0)) AS BIGINT) AS est
        |FROM pb LEFT JOIN sketch USING (j, bucket)
        |GROUP BY 1""".stripMargin),
    Query("domain_excess_reweight") { (s, dir) =>
      // DoReMi-flavored mixture step, measured: full-corpus reference
      // bigram LM vs a 1-in-5-sample proxy LM, per-source excess NLL
      // (clipped at 0), multiplicative share boost (1 + 2·excess),
      // renormalize, smooth 20% toward uniform — domains the cheap proxy
      // under-serves get more weight. Exact integer closes end to end
      // (ops/LanguageModel.scala).
      // Optimization r15: reference LM is the shared corpus bigram LM.
      val (lm, v) = sharedBigramLm(s, dir)
      graft.ops.LanguageModel.domainExcessReweightFrom(table(s, dir, "documents"), lm, v)
    }.oracle(domainReweightOracle(5, 2L, 2000L)),
    Query("hashing_tf") { (s, dir) =>
      // Feature hashing (hashing-trick TF): vocabulary-free fixed-width
      // featurization, sparse output, portable md5 bucketing.
      TextAnalysis.hashingTf(table(s, dir, "documents"), dim = 64)
    }.oracle(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64 AS INT) AS bucket,
        |  count(*) AS tf
        |FROM tok WHERE token <> '' GROUP BY 1, 2""".stripMargin),
    Query("token_pmi") { (s, dir) =>
      // Collocation mining: PMI over co-occurring mid-frequency tokens.
      // The df band is RELATIVE (1%–80% of corpus size, exact integer
      // cross-multiplication — survives any corpus scale); vocabulary is
      // rank-bounded and BROADCAST; pairs generate per-doc from the
      // sorted kept-token array — the corpus never self-joins
      // (ops/Cooccur.scala).
      // Optimization r16: the PMI projection over the shared pair-count
      // frame (also read by token_rules).
      graft.ops.Cooccur.tokenPairPmiFrom(sharedCooccurPairs(s, dir))
    }.oracle(
      // doc-distinct tokens -> df band + rank cap vocab -> per-doc pairs
      // -> PMI with one micro-rounded ln (the portable float pattern)
      s"""WITH $TokPairCtes
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT p.tok_a, p.tok_b, va.df AS c_a, vb.df AS c_b, p.c_ab,
        |  CAST(floor(ln(CAST(n.n_docs * p.c_ab AS DOUBLE) / CAST(va.df * vb.df AS DOUBLE)) * 1e6 + 0.5e0) AS BIGINT) AS pmi_micro
        |FROM pairs p
        |JOIN vocab va ON va.tok = p.tok_a
        |JOIN vocab vb ON vb.tok = p.tok_b
        |CROSS JOIN n""".stripMargin),
    Query("encoding_stats") { (s, dir) =>
      // Encoding-health screen: U+FFFD replacement chars, C0 control
      // chars, mojibake markers (Ã/â€ UTF-8-as-Latin-1 damage), ASCII
      // ratio in micro units. Map-only — the 100 TB shape is one scan,
      // zero exchanges (ops/TextAnalysis.scala).
      graft.ops.TextAnalysis.encodingStats(table(s, dir, "documents"))
    }.oracle(
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_exact,
        |  CAST(length(text) - length(regexp_replace(text, '\x{fffd}', '', 'g')) AS BIGINT) AS n_replacement,
        |  CAST(length(text) - length(regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS BIGINT) AS n_control,
        |  CAST(length(text) - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')) AS BIGINT) AS n_non_ascii,
        |  CAST((length(text) - length(regexp_replace(text, '\x{c3}', '', 'g')))
        |    + (length(text) - length(regexp_replace(text, '\x{e2}\x{20ac}', '', 'g'))) // 2 AS BIGINT) AS n_mojibake,
        |  CAST(CASE WHEN length(text) > 0
        |    THEN (CAST(length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')) AS BIGINT) * 1000000)
        |      // CAST(length(text) AS BIGINT)
        |    ELSE 1000000 END AS BIGINT) AS ascii_ratio_micro
        |FROM documents""".stripMargin),
    Query("source_drift_psi") { (s, dir) =>
      // Population Stability Index per source vs the whole corpus — the
      // ingestion drift alarm; add-one smoothing over the full vocab, one
      // ln per (source, token) with exact long products everywhere else
      // (ops/Drift.scala).
      graft.ops.Drift.sourcePsi(table(s, dir, "documents"))
    }.oracle(
      s"""WITH tc AS (
        |  SELECT source AS src, tok, CAST(count(*) AS BIGINT) AS c_st FROM (
        |    SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2
        |), $PsiTermCtes
        |)
        |SELECT src AS source, max(n_s) AS n_tokens, CAST(sum(term_e5) AS BIGINT) AS psi_e5
        |FROM terms GROUP BY src""".stripMargin),
    Query("token_rules") { (s, dir) =>
      // Association rules (both directions per co-occurring pair):
      // support/confidence in exact basis points, lift in micro units —
      // all integer divisions over exact long counts (ops/Cooccur.scala).
      // Optimization r16: the rules projection over the shared pair-count
      // frame (also read by token_pmi).
      graft.ops.Cooccur.associationRulesFrom(sharedCooccurPairs(s, dir))
    }.oracle(
      s"""WITH $TokPairCtes
        |), ext AS (
        |  SELECT p.tok_a, p.tok_b, va.df AS c_a, vb.df AS c_b, p.c_ab, nd.n_docs
        |  FROM pairs p
        |  JOIN vocab va ON va.tok = p.tok_a
        |  JOIN vocab vb ON vb.tok = p.tok_b
        |  CROSS JOIN nd
        |), dir2 AS (
        |  SELECT tok_a AS antecedent, tok_b AS consequent, c_a AS c_ante, c_b AS c_cons, c_ab, n_docs FROM ext
        |  UNION ALL
        |  SELECT tok_b, tok_a, c_b, c_a, c_ab, n_docs FROM ext
        |)
        |SELECT antecedent, consequent, c_ab,
        |  c_ab * 10000 // n_docs AS support_bps,
        |  c_ab * 10000 // c_ante AS confidence_bps,
        |  (2 * c_ab * n_docs * 1000000 + c_ante * c_cons) // (2 * c_ante * c_cons) AS lift_micro
        |FROM dir2""".stripMargin),
    Query("global_row_numbers") { (s, dir) =>
      // Scalable global ROW_NUMBER: range-partition + local sort + exact
      // zipWithIndex offsets — the distributed replacement for the
      // single-task unpartitioned-window sort, exposed as its own
      // operator (ops/Ranking.scala).
      graft.ops.Ranking.globalRowNumber(
        table(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id").asc))
    }.oracle(
      """SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
        |FROM documents""".stripMargin),
    Query("token_gini") { (s, dir) =>
      // Corpus concentration: Gini + HHI of the token-frequency
      // distribution in exact micro units — boilerplate-domination
      // diagnostics before dedup/capping. Rank over the vocab-sized count
      // frame via distributed range-sort, one final single-row aggregate
      // (ops/Concentration.scala).
      val counts = table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.Concentration.concentration(counts)
    }.oracle(
      """WITH c AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents)
        |  WHERE token <> '' GROUP BY 1
        |), r AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt, token) AS rk FROM c
        |), s AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(cnt) AS HUGEINT) AS total,
        |    CAST(sum(rk * cnt) AS HUGEINT) AS s1, CAST(sum(cnt * cnt) AS HUGEINT) AS s2
        |  FROM r
        |)
        |SELECT CAST(n AS BIGINT) AS n_keys, CAST(total AS BIGINT) AS total_count,
        |  CAST(((2 * s1 - (n + 1) * total) * 2000000 + n * total) // (2 * n * total) AS BIGINT) AS gini_micro,
        |  CAST((s2 * 2000000 + total * total) // (2 * total * total) AS BIGINT) AS hhi_micro
        |FROM s""".stripMargin),
    Query("range_file_manifest") { (s, dir) =>
      // Lakehouse write planning: exact 100-row file cuts under the
      // (n_chars, doc_id) order plus per-file zone maps (min/max) for
      // data-skipping readers (ops/Layout.scala rangeFileManifest).
      graft.ops.Layout.rangeFileManifest(
        table(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").asc, col("doc_id").asc),
        rowsPerFile = 100,
        statCols = Seq("n_chars", "doc_id"))
    }.oracle(
      """WITH ranked AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rk
        |  FROM documents
        |)
        |SELECT (rk - 1) // 100 AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("next_token_topk") { (s, dir) =>
      // Autocomplete table from the bigram LM: per context token (min
      // 20 occurrences), the top-3 continuations with exact basis-point
      // conditional probabilities — vocab-partitioned window, never a
      // global sort (ops/LanguageModel.scala bigramLm).
      val lm = sharedBigramLm(s, dir)._1 // optimization r15: shared LM build
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w1")).orderBy(col("c2").desc, col("w2").asc)
      lm.filter(col("ctx") >= 20)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(
          col("w1"), col("w2"), col("c2"), col("ctx"), col("rk").cast("int").as("rk"),
          expr("(c2 * 20000 + ctx) div (2 * ctx)").cast("long").as("p_bp"))
        .orderBy(col("w1"), col("rk"))
    }.oracle(
      s"""WITH $WsToksCte
        |), bg AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2
        |), bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2
        |), lm AS (
        |  SELECT w1, w2, c2, CAST(sum(c2) OVER (PARTITION BY w1) AS BIGINT) AS ctx FROM bc
        |), r AS (
        |  SELECT w1, w2, c2, ctx,
        |    CAST(row_number() OVER (PARTITION BY w1 ORDER BY c2 DESC, w2) AS INT) AS rk
        |  FROM lm WHERE ctx >= 20
        |)
        |SELECT w1, w2, c2, ctx, rk,
        |  CAST((c2 * 20000 + ctx) // (2 * ctx) AS BIGINT) AS p_bp
        |FROM r WHERE rk <= 3 ORDER BY w1, rk""".stripMargin),
    Query("dataset_card") { (s, dir) =>
      // One-row corpus datasheet: the headline numbers a dataset card
      // publishes — size, vocabulary, duplication, quality-gate pass
      // rate — each an exact integer/rational from operators that are
      // individually oracle-pinned elsewhere. Unions of bounded
      // aggregates; the corpus is scanned a fixed small number of times.
      import graft.functions.ExactDecimal.scaledRatio
      val docs = table(s, dir, "documents")
      val tok = docs.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
      val basic = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("n_chars"))
      val tokens = tok.agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("t")).as("n_vocab"))
      val dups = docs.groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") - 1).as("n_dup_docs"))
      val gated = TextAnalysis.gopherRules(docs)
        .agg(sum(col("keep")).cast("long").as("n_keep"))
      basic.crossJoin(tokens).crossJoin(dups).crossJoin(gated)
        .select(
          col("n_docs"), col("n_langs"), col("n_sources"), col("n_chars"),
          col("n_tokens"), col("n_vocab"), col("n_dup_docs"), col("n_keep"),
          scaledRatio(col("n_dup_docs"), col("n_docs"), 10000L).cast("long").as("dup_bp"),
          scaledRatio(col("n_keep"), col("n_docs"), 10000L).cast("long").as("keep_bp"))
    }.oracle(
      s"""WITH basic AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM documents
        |), tok AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT t) AS BIGINT) AS n_vocab
        |  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t FROM documents)
        |  WHERE t <> ''
        |), dups AS (
        |  SELECT CAST(sum(n - 1) AS BIGINT) AS n_dup_docs
        |  FROM (SELECT count(*) AS n FROM documents GROUP BY md5(text))
        |), ${gopherStatCtes("toksg", "doc_id", "documents")}
        |), gated AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keep
        |  FROM toksg LEFT JOIN top2 ON toksg.doc_id = top2.doc_id
        |             LEFT JOIN dup5 ON toksg.doc_id = dup5.doc_id
        |  WHERE n_tokens BETWEEN 10 AND 100000
        |    AND round(CAST(word_chars AS DOUBLE) / greatest(n_tokens, 1), 4) BETWEEN 2.0 AND 12.0
        |    AND round(CAST(COALESCE(top2_chars, 0) AS DOUBLE) / greatest(toksg.n_chars, 1), 4) < 0.30
        |    AND round(CAST(COALESCE(dup5_chars, 0) AS DOUBLE) / greatest(toksg.n_chars, 1), 4) < 0.15
        |    AND stop_hits >= 2
        |)
        |SELECT n_docs, n_langs, n_sources, n_chars, n_tokens, n_vocab, n_dup_docs, n_keep,
        |  CAST((n_dup_docs * 20000 + n_docs) // (2 * n_docs) AS BIGINT) AS dup_bp,
        |  CAST((n_keep * 20000 + n_docs) // (2 * n_docs) AS BIGINT) AS keep_bp
        |FROM basic, tok, dups, gated""".stripMargin),
    Query("token_fertility") { (s, dir) =>
      // Tokenizer-fertility quality signal per language: chars per token
      // in exact micro units (a language whose whitespace tokens carry
      // 3x the characters needs a different subword budget). One
      // map-only token count + one exchange.
      import graft.functions.ExactDecimal.scaledRatio
      table(s, dir, "documents")
        .select(
          col("lang"),
          col("n_chars"),
          size(filter(TextAnalysis.tokens(col("text")), t => t =!= "")).cast("long").as("n_tok"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .select(
          col("lang"), col("n_docs"), col("n_tokens"), col("sum_chars"),
          scaledRatio(col("sum_chars"), col("n_tokens")).cast("long").as("chars_per_token_micro"))
        .orderBy(col("lang"))
    }.oracle(
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS HUGEINT) AS n_tokens,
        |    CAST(sum(n_chars) AS HUGEINT) AS sum_chars
        |  FROM d GROUP BY 1
        |)
        |SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(sum_chars AS BIGINT) AS sum_chars,
        |  CAST((sum_chars * 2000000 + n_tokens) // (2 * n_tokens) AS BIGINT) AS chars_per_token_micro
        |FROM a ORDER BY lang""".stripMargin),
    Query("ngram_novelty") { (s, dir) =>
      // Per-doc 3-gram novelty in corpus order: the share of a doc's
      // distinct grams first seen in an EARLIER doc — the memorization /
      // staleness curve a crawl pipeline plots over ingest order
      // (ops/TextAnalysis.scala). Grams-only frames after the explode;
      // exact basis points.
      TextAnalysis.ngramNovelty(table(s, dir, "documents"))
    }.oracle(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram
        |  FROM toks WHERE len(w) >= 3
        |), firsts AS (
        |  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1
        |), agg AS (
        |  SELECT g.doc_id, CAST(count(*) AS HUGEINT) AS n_grams,
        |    CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END) AS HUGEINT) AS n_seen
        |  FROM grams g JOIN firsts f ON f.gram = g.gram GROUP BY 1
        |)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(n_seen AS BIGINT) AS n_seen,
        |  CAST(((n_grams - n_seen) * 20000 + n_grams) // (2 * n_grams) AS BIGINT) AS novel_bps
        |FROM agg""".stripMargin),
    Query("vocab_growth") { (s, dir) =>
      // Heaps'-law checkpoints: exact cumulative docs/tokens/vocabulary
      // at each tenth of the corpus order — "is new data still adding
      // vocabulary". Token-keyed first-occurrence agg + distributed
      // prefix sums; no single-task window (ops/TextAnalysis.scala).
      TextAnalysis.vocabGrowth(table(s, dir, "documents"))
    }.oracle(
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents
        |), tk2 AS (SELECT doc_id, tok FROM tk WHERE tok != ''),
        |nt AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS new_types
        |  FROM (SELECT tok, min(doc_id) AS doc_id FROM tk2 GROUP BY 1) GROUP BY 1
        |), ct AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM tk2 GROUP BY 1
        |), base AS (
        |  SELECT d.doc_id, coalesce(ct.n_toks, 0) AS n_toks,
        |    coalesce(nt.new_types, 0) AS new_types
        |  FROM documents d LEFT JOIN ct ON ct.doc_id = d.doc_id
        |    LEFT JOIN nt ON nt.doc_id = d.doc_id
        |), cum AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) AS rn,
        |    sum(n_toks) OVER (ORDER BY doc_id) AS ctoks,
        |    sum(new_types) OVER (ORDER BY doc_id) AS cv
        |  FROM base
        |), tot AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM base)
        |SELECT CAST((rn * 10 + nd - 1) // nd AS INT) AS bucket,
        |  CAST(max(rn) AS BIGINT) AS n_docs_cum,
        |  CAST(max(ctoks) AS BIGINT) AS n_tokens_cum,
        |  CAST(max(cv) AS BIGINT) AS vocab_cum
        |FROM cum, tot GROUP BY 1""".stripMargin),
    Query("dataset_diff_report") { (s, dir) =>
      // Versioned-corpus release audit: per (source, status) doc counts
      // and net token delta between two releases, detected by content
      // hash — ids + md5s are all that cross the exchange. Release v2
      // adds doc_id%7==3, drops %13==1, and edits %11==5
      // (ops/Integrity.scala).
      val docs = table(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 7 =!= 3)
      val v2 = docs.filter(col("doc_id") % 13 =!= 1)
        .withColumn("text",
          when(col("doc_id") % 11 === 5, concat(col("text"), lit(" updated")))
            .otherwise(col("text")))
      graft.ops.Integrity.datasetDiff(v1, v2)
    }.oracle(
      """WITH v1 AS (
        |  SELECT doc_id AS id, source, md5(text) AS h,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS t
        |  FROM documents WHERE doc_id % 7 != 3
        |), v2 AS (
        |  SELECT doc_id AS id, source,
        |    md5(CASE WHEN doc_id % 11 = 5 THEN text || ' updated' ELSE text END) AS h,
        |    CAST(len(regexp_extract_all(
        |      CASE WHEN doc_id % 11 = 5 THEN text || ' updated' ELSE text END,
        |      '\S+')) AS BIGINT) AS t
        |  FROM documents WHERE doc_id % 13 != 1
        |), j AS (
        |  SELECT coalesce(v2.source, v1.source) AS source,
        |    CASE WHEN v1.h IS NULL THEN 'added'
        |         WHEN v2.h IS NULL THEN 'removed'
        |         WHEN v1.h != v2.h THEN 'modified'
        |         ELSE 'unchanged' END AS status,
        |    coalesce(v2.t, 0) - coalesce(v1.t, 0) AS td
        |  FROM v1 FULL OUTER JOIN v2 ON v1.id = v2.id
        |)
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(td) AS BIGINT) AS token_delta
        |FROM j GROUP BY 1, 2""".stripMargin),
    Query("vocab_coverage_curve") { (s, dir) =>
      // Token-occurrence coverage of the k most frequent types per vocab
      // budget — the measured "what vocab size does this corpus need"
      // curve (UNK rate = 10000 − covered_bps). One scan; rank AND
      // cumulative mass from a single runningTotals pass
      // (ops/TextAnalysis.scala).
      TextAnalysis.vocabCoverageCurve(table(s, dir, "documents"))
    }.oracle(
      """WITH tc AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok FROM documents)
        |  GROUP BY 1
        |), cum AS (
        |  SELECT tok, c,
        |    CAST(sum(c) OVER (ORDER BY c DESC, tok) AS BIGINT) AS cum_c,
        |    CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rnk
        |  FROM tc
        |), tot AS (
        |  SELECT max(cum_c) AS total_occurrences, max(rnk) AS n_types FROM cum
        |), ks AS (SELECT CAST(unnest([256, 1024, 4096, 16384]) AS BIGINT) AS k)
        |SELECT ks.k, max(cum.rnk) AS n_types_used,
        |  max(cum.cum_c) AS covered_occurrences,
        |  tot.total_occurrences, tot.n_types,
        |  CAST((2 * 10000 * max(cum.cum_c) + tot.total_occurrences)
        |    // (2 * tot.total_occurrences) AS INT) AS covered_bps
        |FROM ks JOIN cum ON cum.rnk <= ks.k, tot
        |GROUP BY ks.k, tot.total_occurrences, tot.n_types""".stripMargin),
    Query("readability_scores") { (s, dir) =>
      // Flesch-Kincaid grade + reading ease per doc: three regex counts
      // and two fixed-order double closes, map-only over the scan — the
      // classic complexity screen beside the heuristic quality gates
      // (ops/TextAnalysis.scala).
      TextAnalysis.readabilityScores(table(s, dir, "documents"))
    }.oracle(
      """WITH c AS (
        |  SELECT doc_id,
        |    greatest(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT), 1) AS w,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS s,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
        |  FROM documents
        |)
        |SELECT doc_id, s AS n_sentences, w AS n_words, syl AS n_syllables,
        |  CAST(floor((0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |    + 11.8 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59) * 1000000.0 + 0.5)
        |    AS BIGINT) AS fk_grade_micro,
        |  CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |    - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))) * 1000000.0 + 0.5)
        |    AS BIGINT) AS reading_ease_micro
        |FROM c""".stripMargin),
    Query("source_top_terms") { (s, dir) =>
      // What is DISTINCTIVE about each source: top-5 terms by exact
      // integer lift (share-in-source / share-global, micro) with a
      // min-support cut before ranking — the c-TF-IDF cluster-labeling
      // read, transcendental-free (ops/TextAnalysis.scala).
      TextAnalysis.sourceTopTerms(table(s, dir, "documents"))
    }.oracle(
      """WITH tf AS (
        |  SELECT src, term, CAST(count(*) AS HUGEINT) AS c_st FROM (
        |    SELECT source AS src, unnest(string_split_regex(lower(text), '\s+')) AS term
        |    FROM documents)
        |  WHERE term != '' GROUP BY 1, 2
        |), bs AS (SELECT src, sum(c_st) AS n_s FROM tf GROUP BY 1),
        |bt AS (SELECT term, sum(c_st) AS c_t FROM tf GROUP BY 1),
        |tot AS (SELECT sum(n_s) AS n FROM bs),
        |lifted AS (
        |  SELECT tf.src, tf.term, tf.c_st,
        |    CAST((2 * 1000000 * tf.c_st * tot.n + bs.n_s * bt.c_t)
        |      // (2 * bs.n_s * bt.c_t) AS BIGINT) AS lift_micro
        |  FROM tf JOIN bs ON bs.src = tf.src JOIN bt ON bt.term = tf.term CROSS JOIN tot
        |  WHERE tf.c_st >= 5
        |), ranked AS (
        |  SELECT src, term, c_st, lift_micro,
        |    CAST(row_number() OVER (PARTITION BY src
        |      ORDER BY lift_micro DESC, term ASC) AS INT) AS rank
        |  FROM lifted
        |)
        |SELECT src AS source, term, CAST(c_st AS BIGINT) AS c_st, lift_micro, rank
        |FROM ranked WHERE rank <= 5""".stripMargin),
    Query("source_lexical_stats") { (s, dir) =>
      // Lexical richness per source: type-token ratio + hapax share
      // (types occurring once) — high hapax = vocabulary still growing,
      // low = templated; the per-source read behind vocab_growth's
      // corpus curve (ops/TextAnalysis.scala).
      TextAnalysis.sourceLexicalStats(table(s, dir, "documents"))
    }.oracle(
      """WITH tf AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
        |    FROM documents)
        |  WHERE term != '' GROUP BY 1, 2
        |), a AS (
        |  SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM tf GROUP BY 1
        |)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  CAST((2000000 * n_types + n_tokens) // (2 * n_tokens) AS BIGINT) AS ttr_micro,
        |  CAST((20000 * n_hapax + n_types) // (2 * n_types) AS BIGINT) AS hapax_bps
        |FROM a""".stripMargin),
    Query("source_length_ks") { (s, dir) =>
      // Distribution-shape source similarity: pairwise two-sample KS on
      // document length, exact sup of cross-multiplied CDF gaps divided
      // once at the end; grid work is sources × distinct lengths,
      // metadata-scale (ops/Drift.scala).
      graft.ops.Drift.sourceKsMatrix(table(s, dir, "documents"))
    }.oracle(
      """WITH sv AS (
        |  SELECT source AS src, CAST(n_chars AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2
        |), grid AS (SELECT DISTINCT v FROM sv),
        |srcs AS (SELECT DISTINCT src FROM sv),
        |cdf AS (
        |  SELECT s.src, g.v, coalesce(sv.c, 0) AS c,
        |    CAST(sum(coalesce(sv.c, 0)) OVER (PARTITION BY s.src ORDER BY g.v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(coalesce(sv.c, 0)) OVER (PARTITION BY s.src) AS BIGINT) AS n
        |  FROM srcs s CROSS JOIN grid g
        |  LEFT JOIN sv ON sv.src = s.src AND sv.v = g.v
        |), pair AS (
        |  SELECT a.src AS source_a, b.src AS source_b,
        |    max(a.n) AS n_a, max(b.n) AS n_b,
        |    max(abs(a.cum * b.n - b.cum * a.n)) AS sup_num
        |  FROM cdf a JOIN cdf b ON a.v = b.v AND a.src < b.src
        |  GROUP BY 1, 2
        |)
        |SELECT source_a, source_b, n_a, n_b,
        |  CAST((2 * 1000000 * CAST(sup_num AS HUGEINT) + CAST(n_a AS HUGEINT) * n_b)
        |    // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_micro
        |FROM pair""".stripMargin),
    Query("source_vocab_overlap") { (s, dir) =>
      // Set-level source similarity: pairwise vocabulary Jaccard in
      // exact bps — the cheap pre-screen before the KL pass; distinct
      // (source, type) frame computed once, token-keyed intersection
      // join (ops/Drift.scala).
      graft.ops.Drift.sourceVocabOverlap(table(s, dir, "documents"))
    }.oracle(
      """WITH toks AS (
        |  SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents
        |), st AS (SELECT DISTINCT source, tok FROM toks),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab FROM st GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT i.source_a, i.source_b, sa.n_vocab AS vocab_a, sb.n_vocab AS vocab_b,
        |  i.n_common,
        |  CAST((2 * 10000 * i.n_common + (sa.n_vocab + sb.n_vocab - i.n_common))
        |    // (2 * (sa.n_vocab + sb.n_vocab - i.n_common)) AS INT) AS jaccard_bps
        |FROM inter i JOIN sizes sa ON sa.source = i.source_a
        |  JOIN sizes sb ON sb.source = i.source_b""".stripMargin),
    Query("kmv_vocab_jaccard") { (s, dir) =>
      // Sketch-vs-truth for source vocabulary similarity: KMV k-minimum-
      // values Jaccard estimate (k=256, deterministic md5-32 hashes)
      // joined against the exact intersection answer — the estimator a
      // 100 TB run would use, graded while truth is still computable.
      // One corpus scan; sketches are k rows/source (ops/Drift.scala).
      graft.ops.Drift.kmvVocabJaccard(table(s, dir, "documents"), k = 256)
    }.oracle(
      """WITH toks AS (
        |  SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents
        |), st AS (SELECT DISTINCT source, tok FROM toks),
        |hv AS (
        |  SELECT DISTINCT source,
        |    CAST(('0x' || substr(md5('kmv-' || tok), 1, 8)) AS BIGINT) AS hv
        |  FROM st
        |), sk AS (
        |  SELECT source, hv FROM (
        |    SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        |    FROM hv) WHERE rn <= 256
        |), prs AS (
        |  SELECT a.source AS sa, b.source AS sb
        |  FROM (SELECT DISTINCT source FROM sk) a
        |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source
        |), ent AS (
        |  SELECT p.sa, p.sb, s.hv,
        |    max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
        |  FROM prs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
        |  GROUP BY 1, 2, 3
        |), topk AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn FROM ent)
        |  WHERE rn <= 256
        |), est AS (
        |  SELECT sa AS source_a, sb AS source_b,
        |    CAST(count(*) AS BIGINT) AS k_union,
        |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
        |  FROM topk GROUP BY 1, 2
        |), sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab FROM st GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2
        |), exact AS (
        |  SELECT i.source_a, i.source_b,
        |    CAST((2 * 10000 * i.n_common + (sa.n_vocab + sb.n_vocab - i.n_common))
        |      // (2 * (sa.n_vocab + sb.n_vocab - i.n_common)) AS INT) AS exact_jaccard_bps
        |  FROM inter i JOIN sizes sa ON sa.source = i.source_a
        |    JOIN sizes sb ON sb.source = i.source_b
        |)
        |SELECT e.source_a, e.source_b, e.k_union, e.n_both,
        |  CAST((2 * 10000 * e.n_both + e.k_union) // (2 * e.k_union) AS INT) AS est_jaccard_bps,
        |  x.exact_jaccard_bps,
        |  CAST((2 * 10000 * e.n_both + e.k_union) // (2 * e.k_union) AS INT)
        |    - x.exact_jaccard_bps AS err_bps
        |FROM est e JOIN exact x ON x.source_a = e.source_a AND x.source_b = e.source_b""".stripMargin),
    Query("source_kl_matrix") { (s, dir) =>
      // Pairwise KL divergence between source unigram distributions
      // (add-one smoothed over the shared vocab) — which sources are
      // interchangeable and which carry unique mass, the question a
      // mixture planner asks before down-weighting a near-duplicate
      // source. One corpus scan; everything after is sources x vocab
      // bounded broadcast work (ops/Drift.scala).
      graft.ops.Drift.sourceKlMatrix(table(s, dir, "documents"))
    }.oracle(
      """WITH tc AS (
        |  SELECT src, tok, CAST(count(*) AS HUGEINT) AS c_st FROM (
        |    SELECT source AS src, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2
        |), st AS (SELECT src, sum(c_st) AS n_s FROM tc GROUP BY 1),
        |vo AS (SELECT DISTINCT tok FROM tc),
        |vc AS (SELECT CAST(count(DISTINCT tok) AS HUGEINT) AS v FROM tc),
        |grid AS (
        |  SELECT st.src, vo.tok, COALESCE(tc.c_st, 0) + 1 AS c1, st.n_s + vc.v AS d
        |  FROM st CROSS JOIN vo CROSS JOIN vc
        |  LEFT JOIN tc ON tc.src = st.src AND tc.tok = vo.tok
        |), pairs AS (
        |  SELECT a.src AS src_a, b.src AS src_b, a.c1 AS c1_a, a.d AS d_a,
        |    CAST(floor(ln(CAST(a.c1 * b.d AS DOUBLE) / CAST(b.c1 * a.d AS DOUBLE))
        |      * 1e6 + 0.5e0) AS HUGEINT) AS lnm
        |  FROM grid a JOIN grid b ON a.tok = b.tok AND a.src <> b.src
        |), ag AS (
        |  SELECT src_a, src_b, max(d_a) AS d_a, sum(c1_a * lnm) AS s
        |  FROM pairs GROUP BY 1, 2
        |)
        |SELECT src_a, src_b,
        |  CAST((2 * s + d_a - (((2 * s + d_a) % (2 * d_a)) + 2 * d_a) % (2 * d_a))
        |    // (2 * d_a) AS BIGINT) AS kl_micro
        |FROM ag""".stripMargin),
    Query("zipf_alpha") { (s, dir) =>
      // Zipf rank-frequency fit of the token distribution: alpha (the
      // -OLS slope of ln cnt vs ln rank) near 1 is natural language; low
      // alpha flags templated text, high alpha a collapsed vocabulary.
      // Rank via distributed range-sort, single-row exact-decimal OLS
      // (ops/Concentration.scala).
      val counts = table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.Concentration.zipfAlpha(counts)
    }.oracle(
      """WITH c AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents)
        |  WHERE token <> '' GROUP BY 1
        |), r AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rnk FROM c
        |), p AS (
        |  SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6 + 0.5e0) AS HUGEINT) AS x,
        |         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5e0) AS HUGEINT) AS y
        |  FROM r
        |), a AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM p
        |), q AS (
        |  SELECT n, n * sxy - sx * sy AS bnum, sy * sxx - sx * sxy AS anum,
        |    n * sxx - sx * sx AS den
        |  FROM a
        |)
        |SELECT CAST(n AS BIGINT) AS n_keys,
        |  CAST(CASE WHEN den > 0 THEN -((2000000 * bnum + den
        |    - (((2000000 * bnum + den) % (2 * den)) + 2 * den) % (2 * den)) // (2 * den))
        |    END AS BIGINT) AS alpha_micro,
        |  CAST(CASE WHEN den > 0 THEN (2 * anum + den
        |    - (((2 * anum + den) % (2 * den)) + 2 * den) % (2 * den)) // (2 * den)
        |    END AS BIGINT) AS intercept_micro
        |FROM q""".stripMargin),
    Query("prf_expansion_terms") { (s, dir) =>
      // Pseudo-relevance-feedback expansion on the BM25 leg: top-10
      // feedback docs broadcast into a term harvest, terms ranked by
      // score-weighted tf, originals excluded (ops/Retrieval.scala).
      graft.ops.Retrieval.prfExpansionTerms(
        table(s, dir, "documents"),
        queryTerms = Seq("table", "scan", "merge", "the"),
        kDocs = 10, kTerms = 8)
    }.oracle(
      s"""WITH $Bm25ScoredCtes
        |), fb AS (
        |  SELECT doc_id,
        |    CAST(sum((2*idf_micro*num + den) // (2*den)) AS BIGINT) AS score_micro
        |  FROM scored GROUP BY 1
        |  ORDER BY score_micro DESC, doc_id LIMIT 10
        |), harvest AS (
        |  SELECT x.tok, x.doc_id, fb.score_micro
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM dl) x
        |  JOIN fb ON fb.doc_id = x.doc_id
        |  WHERE x.tok <> '' AND x.tok NOT IN ('table', 'scan', 'merge', 'the')
        |)
        |SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_feedback_docs,
        |  CAST(sum(score_micro) AS BIGINT) AS weight_micro
        |FROM harvest GROUP BY 1
        |ORDER BY weight_micro DESC, tok LIMIT 8""".stripMargin),
    Query("dict_scan_doc_stats") { (s, dir) =>
      // Multi-pattern dictionary scan, per-doc face: total occurrences +
      // distinct terms hit. ONE broadcast Aho–Corasick pass over the
      // corpus regardless of dictionary size — the scale answer to
      // K-pattern blocklist/PII scanning, where K contains/regex columns
      // are K corpus scans. Space-prefixed patterns have no self-border
      // (theorem, spec-pinned), so automaton all-occurrence counts equal
      // the oracle's non-overlapping replace-length counts
      // (ops/DictScan.scala).
      graft.ops.DictScan.docStats(sharedDictScan(s, dir))
    }.oracle(
      s"""$DictScanCtes
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_hits,
        |  CAST(count(*) AS BIGINT) AS n_patterns
        |FROM dhits GROUP BY 1""".stripMargin),
    Query("dict_scan_pattern_totals") { (s, dir) =>
      // The dictionary's heavy-hitter table off the SAME automaton pass
      // (shared build): per term, carrying docs + total occurrences
      // (ops/DictScan.scala).
      graft.ops.DictScan.patternTotals(sharedDictScan(s, dir))
    }.oracle(
      s"""$DictScanCtes
        |SELECT pattern, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_occurrences
        |FROM dhits GROUP BY 1""".stripMargin),
    Query("dict_scan_overlap_counts") { (s, dir) =>
      // The automaton's ALL-occurrence semantics proven where it
      // DIVERGES from non-overlapping counting: self-bordered
      // repeated-word bigrams ("sort sort"), whose occurrences overlap
      // inside a 3+-run (m repeats → m−1 all-occurrence matches vs
      // ⌊m/2⌋ leftmost non-overlapping). One Aho–Corasick pass for
      // n_all; the replace-length calibration leg prices n_nonoverlap;
      // delta > 0 rows are the witnesses the space-prefixed faces'
      // no-self-border theorem rules out (ops/DictScan.scala).
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("text"))
      graft.ops.DictScan.overlapCountsReport(
        docs, OverlapBigramWords.map(w => s"$w $w"))
    }.oracle(
      // n_all replayed positionally as adjacent-token pairs (char-exact
      // for this corpus: single-space joined, and no vocab word carries
      // a pattern word as proper prefix/suffix — see OverlapBigramWords);
      // n_nonoverlap via the leftmost replace-length identity
      s"""WITH dt AS (
        |  SELECT doc_id, lower(text) AS t,
        |    string_split_regex(lower(text), '\\s+') AS w
        |  FROM documents
        |), pats AS (
        |  SELECT * FROM (VALUES ${OverlapBigramWords.map(w => s"('$w')").mkString(", ")}) p(tok)
        |), oc AS (
        |  SELECT d.doc_id, p.tok || ' ' || p.tok AS pattern,
        |    CAST(len(list_filter(range(1, len(d.w)),
        |      j -> d.w[j] = p.tok AND d.w[j+1] = p.tok)) AS BIGINT) AS n_all,
        |    CAST((length(d.t) - length(replace(d.t, p.tok || ' ' || p.tok, '')))
        |      // length(p.tok || ' ' || p.tok) AS BIGINT) AS n_nonoverlap
        |  FROM dt d CROSS JOIN pats p
        |)
        |SELECT doc_id, pattern, n_all, n_nonoverlap, n_all - n_nonoverlap AS delta
        |FROM oc WHERE n_all > 0""".stripMargin)
  )
}
