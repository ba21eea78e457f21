package graft

import scala.collection.immutable.ListMap

import OracleSql._

/** DuckDB oracle SQL for every SparkEntry.queries key. Column names/types
  * and row order match the Spark outputs exactly (the driver compares
  * values after sorting columns by name). */
object OracleQueries {

  private def boolDoc(term: String): String =
    s"EXISTS(SELECT 1 FROM tokens t WHERE t.doc_id = d.doc_id AND t.term = '$term')"

  /** (rank, doc_id) top-k of an aggregated score relation a(doc_id, score).
    * Ranks on round(score, 9): DuckDB's parallel sum() adds clause scores
    * in a nondeterministic order, so two docs with IDENTICAL per-clause
    * values can differ by one ulp run-to-run; rounding collapses those
    * true ties (engine ties break the same way, docId asc) while real
    * score gaps in this corpus are far above 1e-9. */
  private def rankSel(k: Int): String =
    s"""SELECT CAST(row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS BIGINT) AS rank, doc_id
       |FROM agg ORDER BY round(score, 9) DESC, doc_id LIMIT $k""".stripMargin

  val bm25OrWith: String = bm25With("('spark'),('vector'),('window')")

  /** Shared WITH-chain for the MinHash near-dup connected components:
    * ends with comp(cluster, member). */
  private lazy val clustersWith: String =
    s"""WITH RECURSIVE $shinglesCte,
         |perm(pi, pa, pb) AS (VALUES $minhashPermValues),
         |hh AS (SELECT id, shingle,
         |         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS h
         |       FROM sh),
         |mh AS (SELECT id, pi, min((pa * h + pb) % 2147483647) AS mh
         |       FROM hh, perm GROUP BY id, pi),
         |bands AS (SELECT id, pi // 4 AS band,
         |            string_agg(mh::VARCHAR, ',' ORDER BY pi) AS sig
         |          FROM mh GROUP BY id, band),
         |cand AS (SELECT DISTINCT x.id AS a, y.id AS b FROM bands x
         |         JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.id < y.id),
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c
         |          JOIN sh p ON p.id = c.a
         |          JOIN sh q ON q.id = c.b AND q.shingle = p.shingle
         |          GROUP BY c.a, c.b),
         |nd AS (SELECT i2.a, i2.b FROM inter i2
         |       JOIN sizes sa ON sa.id = i2.a JOIN sizes sb ON sb.id = i2.b
         |       WHERE CAST(i2.i AS DOUBLE) / (sa.n + sb.n - i2.i) >= 0.2),
         |edges AS (SELECT a AS u, b AS v FROM nd UNION SELECT b, a FROM nd),
         |reach(id2, lab) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT e.u, r.lab FROM edges e JOIN reach r ON r.id2 = e.v),
       |comp AS (SELECT min(lab) AS cluster, id2 AS member FROM reach
       |         GROUP BY id2)""".stripMargin

  lazy val all: Map[String, String] = ListMap(

    "ft_term_postings" ->
      s"""WITH $tokensCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokens
         |WHERE term = 'spark' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ft_positions" ->
      s"""WITH $tokensCte
         |SELECT doc_id, string_agg(pos, ',' ORDER BY pos) AS pos_list
         |FROM tokens WHERE term = 'window'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ft_bool_and_not" ->
      s"""WITH $tokensCte
         |SELECT d.doc_id FROM documents d
         |WHERE ${boolDoc("spark")} AND ${boolDoc("vector")}
         |  AND NOT ${boolDoc("dup")}
         |ORDER BY doc_id""".stripMargin,

    "ft_bool_or_msm2" ->
      s"""WITH $tokensCte
         |SELECT doc_id FROM (
         |  SELECT doc_id, count(DISTINCT term) AS c FROM tokens
         |  WHERE term IN ('merge','window','stream') GROUP BY doc_id)
         |WHERE c >= 2 ORDER BY doc_id""".stripMargin,

    // mm="3<-25%" over 4 optional clauses: 4 > 3 -> -25% -> 4 + trunc(
    // 4*-25*(1/100f)) = 3 (SolrPluginUtils.calculateMinShouldMatch)
    "ft_mm_spec" ->
      s"""WITH $tokensCte
         |SELECT doc_id FROM (
         |  SELECT doc_id, count(DISTINCT term) AS c FROM tokens
         |  WHERE term IN ('merge','window','stream','vector')
         |  GROUP BY doc_id)
         |WHERE c >= 3 ORDER BY doc_id""".stripMargin,

    // XML-parsed boolean: (spark OR stream) AND NOT dup AND an ordered
    // span-near(merge, sort) with slop 2 (window width - 2 <= 2)
    "ft_xmlquery" ->
      s"""WITH $tokensCte
         |SELECT d.doc_id FROM documents d
         |WHERE (${boolDoc("spark")} OR ${boolDoc("stream")})
         |  AND NOT ${boolDoc("dup")}
         |  AND EXISTS (SELECT 1 FROM tokens a
         |              JOIN tokens b ON b.doc_id = a.doc_id AND b.pos > a.pos
         |                AND (b.pos - a.pos + 1) - 2 <= 2
         |              WHERE a.doc_id = d.doc_id
         |                AND a.term = 'merge' AND b.term = 'sort')
         |ORDER BY doc_id""".stripMargin,

    "ft_phrase" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a
         |JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = 'table'
         |JOIN tokens c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.term = 'hash'
         |WHERE a.term = 'stream' ORDER BY 1""".stripMargin,

    "ft_phrase_sloppy" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a
         |JOIN tokens b ON b.doc_id = a.doc_id AND b.term = 'vector'
         |  AND abs(b.pos - a.pos - 1) <= 1
         |WHERE a.term = 'spark' ORDER BY 1""".stripMargin,

    // SimpleQueryParser: spark AND (vector OR window) AND NOT dup
    "ft_simpleq" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens WHERE term = 'spark'
         |AND doc_id IN (SELECT doc_id FROM tokens
         |               WHERE term IN ('vector', 'window'))
         |AND doc_id NOT IN (SELECT doc_id FROM tokens WHERE term = 'dup')
         |ORDER BY 1""".stripMargin,

    // n-term sloppy: exists one occurrence per slot whose offset-adjusted
    // spread (greatest - least) fits the slop
    "ft_phrase_sloppy3" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a
         |JOIN tokens b ON b.doc_id = a.doc_id AND b.term = 'table'
         |JOIN tokens c ON c.doc_id = a.doc_id AND c.term = 'hash'
         |WHERE a.term = 'stream'
         |  AND greatest(a.pos, b.pos - 1, c.pos - 2) -
         |      least(a.pos, b.pos - 1, c.pos - 2) <= 3
         |ORDER BY 1""".stripMargin,

    "ft_regexp" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE regexp_matches(term, '^s[pt][a-z]*m$$') ORDER BY doc_id""".stripMargin,

    "ft_prefix" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens WHERE term LIKE 's%' ORDER BY doc_id""".stripMargin,

    "ft_wildcard" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE regexp_matches(term, '^s.a.*$$') ORDER BY doc_id""".stripMargin,

    "ft_fuzzy" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE levenshtein(term, 'merg') <= 1 ORDER BY doc_id""".stripMargin,

    "ft_range_term" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE term >= 'query' AND term < 'sort' ORDER BY doc_id""".stripMargin,

    // Fielded search: content clause 'spark' (BM25 over content stats) +
    // path clause '000000123'. The path field is one token per doc (the
    // zero-padded doc_id the engine indexes as `path`), so: df = 1,
    // avgdl_path = 1.0, tf = 1, dl_path = 1 -> score = idf_path * 2.2 /
    // (1 + 1.2*(0.25 + 0.75*qdl(1))) with qdl from the shared norm table.
    "ft_fielded" ->
      s"""${bm25With("('spark')")},
         |scp AS (
         |  SELECT doc_id,
         |         ln(1 + ((SELECT n FROM cs) - 1 + 0.5) / (1 + 0.5)) * 2.2 /
         |         (1 + 1.2 * (0.25 + 0.75 *
         |            (SELECT qdl FROM nrm WHERE 1 BETWEEN lo AND hi))) AS s
         |  FROM documents WHERE doc_id = 123),
         |agg AS (SELECT doc_id, sum(s) AS score FROM
         |        (SELECT doc_id, s FROM sc UNION ALL SELECT doc_id, s FROM scp)
         |        GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // spell-check: dictionary candidates within edit distance 2 of the
    // misspelling, by (distance, popularity desc, term). len(term) 3..7
    // mirrors the engine's length band (query len 5 +- 2).
    "spellcheck" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term)
         |SELECT term, CAST(levenshtein(term, 'mrege') AS BIGINT) AS dist, df
         |FROM dict
         |WHERE len(term) BETWEEN 3 AND 7 AND levenshtein(term, 'mrege') <= 2
         |ORDER BY dist, df DESC, term LIMIT 5""".stripMargin,

    // DirectSpellChecker: candidates by Damerau-Levenshtein <= 2 sharing
    // the first letter, scored 1 - ed/min(len), accuracy >= 0.5; ed<=1
    // pass first, ed<=2 unioned only when pass 1 under-fills 25
    // (numSug*maxInspections); final score desc, freq desc, term asc.
    // DuckDB's damerau_levenshtein is true DL while the engine's metric
    // is OSA (LuceneLevenshteinDistance); the two differ only on pairs
    // with an edit INSIDE a transposed pair (ca->abc), verified absent
    // from this corpus band for both query terms.
    // QualityStats benchmark: the whole precision walk re-derived in SQL
    // (running precision, extrapolated P@n, rank<=5 MRR, AvP /
    // maxGoodPoints, good-queries-only average).
    "quality_eval" -> {
      val pts = Seq(1, 5, 10, 20)
      val pRaw = pts.map(n =>
        s"max(CASE WHEN rank = $n THEN p END) AS p_raw_$n").mkString(", ")
      val pAt = pts.map(n =>
        s"""CASE WHEN num_points >= $n THEN p_raw_$n
           |      ELSE num_points * last_p / $n END AS p_at_$n""".stripMargin)
        .mkString(", ")
      val pAvg = pts.map(n => s"avg(p_at_$n) AS p_at_$n").mkString(", ")
      val metricNames = Seq("num_points", "num_good_points",
        "max_good_points", "recall", "mrr", "avp") ++ pts.map(n => s"p_at_$n")
      val roundAll = metricNames.map(c => s"round($c, 6) AS $c").mkString(", ")
      s"""WITH $tokensCte,
         |tf AS (SELECT term AS query_id, doc_id, count(*) AS tf
         |       FROM tokens WHERE term IN ('merge', 'stream', 'vector')
         |       GROUP BY 1, 2),
         |run AS (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY tf DESC, doc_id) AS rank
         |        FROM tf QUALIFY rank <= 20),
         |jd AS (SELECT query_id, doc_id FROM tf WHERE tf >= 2),
         |mg AS (SELECT query_id, CAST(count(*) AS DOUBLE) AS max_good
         |       FROM jd GROUP BY 1),
         |marked AS (SELECT r.query_id, r.rank,
         |             CASE WHEN j.doc_id IS NULL THEN 0.0 ELSE 1.0 END AS good
         |           FROM run r LEFT JOIN jd j
         |             ON j.query_id = r.query_id AND j.doc_id = r.doc_id),
         |cum AS (SELECT query_id, rank, good,
         |          sum(good) OVER (PARTITION BY query_id ORDER BY rank)
         |            / rank AS p
         |        FROM marked),
         |per AS (SELECT query_id, CAST(max(rank) AS DOUBLE) AS num_points,
         |          sum(good) AS num_good_points,
         |          sum(CASE WHEN good = 1.0 THEN p ELSE 0 END) AS prel_sum,
         |          min(CASE WHEN good = 1.0 AND rank <= 5 THEN rank END)
         |            AS first5,
         |          max_by(p, rank) AS last_p, $pRaw
         |        FROM cum GROUP BY 1),
         |fin AS (SELECT p.query_id, num_points,
         |          num_good_points,
         |          coalesce(m.max_good, 0) AS max_good_points,
         |          CASE WHEN coalesce(m.max_good, 0) <= 0 THEN last_p
         |                ELSE num_good_points / m.max_good END AS recall,
         |          coalesce(1.0 / first5, 0) AS mrr,
         |          CASE WHEN coalesce(m.max_good, 0) = 0 THEN 0
         |                ELSE prel_sum / m.max_good END AS avp,
         |          $pAt
         |        FROM per p LEFT JOIN mg m ON m.query_id = p.query_id),
         |allrows AS (
         |  SELECT * FROM fin
         |  UNION ALL
         |  SELECT 'average', avg(num_points), avg(num_good_points),
         |         avg(max_good_points), avg(recall), avg(mrr), avg(avp),
         |         $pAvg
         |  FROM fin WHERE max_good_points > 0)
         |SELECT query_id, $roundAll FROM allrows
         |ORDER BY query_id""".stripMargin
    },

    // Classic n-gram SpellChecker: candidates = dictionary words sharing
    // an n-gram with the query at BOTH words' own length bands (the
    // gram-field join — a len<=4 word never matches a len>5 query); the
    // 30-word corpus vocabulary stays far below the 10*numSug TFIDF
    // candidate cutoff, so membership is exact here and the re-rank
    // (1 - lev/max, accuracy 0.5, per-mode freq gates, comparator order)
    // is re-derived fully.
    "spellcheck_classic" -> {
      def gramVals(w: String): String = {
        val lo = if (w.length > 5) 3 else if (w.length == 5) 2 else 1
        val hi = if (w.length > 5) 4 else if (w.length == 5) 3 else 2
        (lo to hi).flatMap(ng =>
          (0 to w.length - ng).map(i => (ng, w.substring(i, i + ng))))
          .distinct.map { case (ng, g) => s"($ng,'$g')" }.mkString(", ")
      }
      def cand(q: String): String =
        s"""SELECT DISTINCT d.term, d.df,
           |  1.0 - levenshtein(d.term, '$q')
           |      / CAST(greatest(len(d.term), ${q.length}) AS DOUBLE) AS score
           |FROM dg d JOIN (VALUES ${gramVals(q)}) g(ng, gram)
           |  ON g.ng = d.ng AND g.gram = d.gram
           |WHERE d.term <> '$q'""".stripMargin
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |sdict AS (SELECT term, df FROM dict WHERE len(term) >= 3),
         |dg AS (
         |  SELECT term, df, ng,
         |         substr(term, CAST(p + 1 AS INT), CAST(ng AS INT)) AS gram
         |  FROM sdict, (SELECT unnest([1, 2, 3, 4]) AS ng) n,
         |       (SELECT unnest(range(64)) AS p) pp
         |  WHERE ng >= CASE WHEN len(term) > 5 THEN 3
         |                   WHEN len(term) = 5 THEN 2 ELSE 1 END
         |    AND ng <= CASE WHEN len(term) > 5 THEN 4
         |                   WHEN len(term) = 5 THEN 3 ELSE 2 END
         |    AND p + ng <= len(term))
         |SELECT qterm, mode, rank, term, score, freq FROM (
         |  SELECT 'mrege' AS qterm, 'always' AS mode,
         |         CAST(row_number() OVER (ORDER BY score DESC, term)
         |              AS BIGINT) AS rank,
         |         term, round(score, 6) AS score, CAST(0 AS BIGINT) AS freq
         |  FROM (${cand("mrege")} AND 1.0 - levenshtein(d.term, 'mrege')
         |          / CAST(greatest(len(d.term), 5) AS DOUBLE) >= 0.5
         |        ORDER BY score DESC, term LIMIT 5)
         |  UNION ALL
         |  SELECT 'tabel', 'more_popular',
         |         CAST(row_number() OVER (ORDER BY score DESC, df DESC, term)
         |              AS BIGINT),
         |         term, round(score, 6), df
         |  FROM (${cand("tabel")} AND 1.0 - levenshtein(d.term, 'tabel')
         |          / CAST(greatest(len(d.term), 5) AS DOUBLE) >= 0.5
         |          AND d.df >= 1
         |          AND d.df >= (SELECT coalesce(max(df), 0) FROM dict
         |                       WHERE term = 'tabel')
         |        ORDER BY score DESC, df DESC, term LIMIT 5)
         |  UNION ALL
         |  SELECT 'query', 'when_not_in_index', CAST(1 AS BIGINT),
         |         'query', CAST(0.0 AS DOUBLE), df
         |  FROM dict WHERE term = 'query'
         |  UNION ALL
         |  SELECT 'vlaue', 'freq_comparator',
         |         CAST(row_number() OVER (ORDER BY df DESC, score DESC, term)
         |              AS BIGINT),
         |         term, round(score, 6), df
         |  FROM (${cand("vlaue")} AND 1.0 - levenshtein(d.term, 'vlaue')
         |          / CAST(greatest(len(d.term), 5) AS DOUBLE) >= 0.5
         |          AND d.df >= 1
         |        ORDER BY df DESC, score DESC, term LIMIT 5))
         |ORDER BY qterm, mode, rank""".stripMargin
    },

    "spellcheck_direct" -> {
      def per(q: String): String = {
        val lo = q.length - 2; val hi = q.length + 2
        s"""SELECT qterm, term, round(score, 6) AS score, df AS freq FROM (
           |  WITH cand AS (
           |    SELECT term, df, damerau_levenshtein(term, '$q') AS ed
           |    FROM dict
           |    WHERE len(term) BETWEEN $lo AND $hi
           |      AND term LIKE '${q.head}%' AND term <> '$q'
           |      AND damerau_levenshtein(term, '$q') <= 2),
           |  sc AS (SELECT term, df, ed,
           |           1.0 - ed / CAST(least(len(term), ${q.length}) AS DOUBLE)
           |             AS score
           |         FROM cand
           |         WHERE 1.0 - ed / CAST(least(len(term), ${q.length})
           |           AS DOUBLE) >= 0.5),
           |  p1 AS (SELECT term, df, score FROM sc WHERE ed <= 1
           |         ORDER BY score DESC, term LIMIT 25),
           |  p2 AS (SELECT term, df, score FROM sc
           |         WHERE (SELECT count(*) FROM p1) < 25
           |         ORDER BY score DESC, term LIMIT 25),
           |  u AS (SELECT term, df, score FROM p1 UNION
           |        SELECT term, df, score FROM p2)
           |  SELECT '$q' AS qterm, term, score, df
           |  FROM u ORDER BY score DESC, df DESC, term LIMIT 5)""".stripMargin
      }
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term)
         |${per("mrege")}
         |UNION ALL
         |${per("sorw")}""".stripMargin
    },

    // Spell-check collation: best per-term correction, then the hit
    // count of the collated conjunction
    "spellcheck_collate" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |c1 AS (SELECT term FROM dict WHERE levenshtein(term, 'mrege') <= 2
         |       ORDER BY levenshtein(term, 'mrege'), df DESC, term LIMIT 1),
         |c2 AS (SELECT term FROM dict WHERE levenshtein(term, 'windoww') <= 2
         |       ORDER BY levenshtein(term, 'windoww'), df DESC, term LIMIT 1)
         |SELECT (SELECT term FROM c1) || ' ' || (SELECT term FROM c2) AS collation,
         |       (SELECT CAST(count(*) AS BIGINT) FROM documents d
         |        WHERE EXISTS(SELECT 1 FROM tokens t WHERE t.doc_id = d.doc_id
         |                     AND t.term = (SELECT term FROM c1))
         |          AND EXISTS(SELECT 1 FROM tokens t WHERE t.doc_id = d.doc_id
         |                     AND t.term = (SELECT term FROM c2))) AS hits""".stripMargin,

    // Stemmed search: the corpus surface forms whose Porter stem is
    // "custom" (the fixed 31-term vocabulary contains only "customer";
    // "custom"/"customs" listed defensively). Independent re-derivation:
    // the stem family is enumerated from English morphology, not from the
    // engine; the stemmer itself is pinned by the 23,531-word golden test.
    "ft_stemmed" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term IN ('customer', 'custom', 'customs')
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ft_termstats" ->
      s"""WITH $tokensCte
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |       CAST(count(*) AS BIGINT) AS ttf
         |FROM tokens GROUP BY term ORDER BY df DESC, term LIMIT 15""".stripMargin,

    "ft_collstats" ->
      s"""WITH $tokensCte
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS max_doc,
         |       (SELECT CAST(count(*) AS BIGINT) FROM tokens) AS sum_ttf,
         |       (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM tokens) AS n_terms""".stripMargin,

    "ft_doclen_norms" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte
         |SELECT dl.doc_id, dl.dl, round(nrm.qdl, 4) AS qdl
         |FROM dl JOIN nrm ON dl.dl BETWEEN nrm.lo AND nrm.hi
         |ORDER BY doc_id""".stripMargin,

    "ft_bm25_top20" ->
      s"""$bm25OrWith,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(20)}""".stripMargin,

    // FuzzyLikeThis: variants by similarity > 0.5, boost=(sim-0.5)*2,
    // constant score boost^2*idf(avg variant df), per-doc sum, top 10
    "ft_fuzzylike" ->
      s"""WITH $tokensCte,
         |cs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |vocab AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |          FROM tokens GROUP BY term),
         |seeds(seed) AS (VALUES ('sparc'), ('windoe')),
         |acc AS (SELECT s.seed, v.term, v.df,
         |          1.0 - CAST(levenshtein(v.term, s.seed) AS DOUBLE) /
         |            least(len(v.term), len(s.seed)) AS sim
         |        FROM seeds s JOIN vocab v
         |          ON levenshtein(v.term, s.seed) <= 2
         |        WHERE 1.0 - CAST(levenshtein(v.term, s.seed) AS DOUBLE) /
         |            least(len(v.term), len(s.seed)) > 0.5),
         |-- df averaged over ALL variants (reference totalVariantDocFreqs /
         |-- numVariants, FuzzyLikeThisQuery.java:237-241, BEFORE the cap);
         |-- only the top MAX_VARIANTS_PER_TERM=50 variants then score
         |dfu AS (SELECT seed, sum(df) // count(*) AS df_used FROM acc GROUP BY seed),
         |capped AS (SELECT * FROM acc
         |           QUALIFY row_number() OVER (PARTITION BY seed
         |             ORDER BY sim DESC, term) <= 50),
         |scored AS (SELECT a.term,
         |             ((a.sim - 0.5) * 2) * ((a.sim - 0.5) * 2) *
         |             ln(1 + (cs.n - d.df_used + 0.5) / (d.df_used + 0.5)) AS sv
         |           FROM capped a JOIN dfu d ON d.seed = a.seed, cs),
         |agg AS (SELECT t.doc_id, sum(sv) AS score
         |        FROM (SELECT DISTINCT doc_id, term FROM tokens) t
         |        JOIN scored ON scored.term = t.term GROUP BY t.doc_id)
         |${rankSel(10)}""".stripMargin,

    // DiversifiedTopDocs: per-lang cap 2, then global re-rank top 10
    "ft_diversified" ->
      s"""$bm25OrWith,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id),
         |keyed AS (SELECT a.doc_id, a.score,
         |            row_number() OVER (PARTITION BY d.lang
         |              ORDER BY round(a.score, 9) DESC, a.doc_id) AS rn
         |          FROM agg a JOIN documents d USING (doc_id)),
         |capped AS (SELECT doc_id, score FROM keyed WHERE rn <= 2)
         |SELECT CAST(row_number() OVER (
         |         ORDER BY round(score, 9) DESC, doc_id) AS BIGINT) AS rank,
         |       doc_id
         |FROM capped ORDER BY round(score, 9) DESC, doc_id LIMIT 10""".stripMargin,

    // HighFreqTerms: top-10 dictionary terms by df (ttf carried)
    "ft_highfreq_terms" ->
      s"""WITH $tokensCte
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |       CAST(count(*) AS BIGINT) AS ttf
         |FROM tokens GROUP BY term ORDER BY df DESC, term LIMIT 10""".stripMargin,

    // DuplicateFilter (first occurrence per lang, intersected with matches)
    "ft_duplicate_filter" ->
      s"""WITH $tokensCte,
         |firsts AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY lang)
         |SELECT f.doc_id FROM firsts f
         |WHERE f.doc_id IN (SELECT doc_id FROM tokens WHERE term = 'spark')
         |ORDER BY f.doc_id""".stripMargin,

    "ft_bm25_conj" ->
      s"""${bm25With("('small'),('value')")},
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |        HAVING count(*) = 2)
         |${rankSel(10)}""".stripMargin,

    // Auto stopwords at 40% df: of "dup spark window" only 'dup'
    // (df 5% of docs) survives; spark/window exceed the line
    "ft_autostop" ->
      s"""${bm25With("('dup')")},
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(10)}""".stripMargin,

    "ft_bm25_filter" ->
      s"""${bm25With("('spark')")},
         |filt AS (SELECT DISTINCT doc_id FROM tokens WHERE term = 'vector'),
         |agg AS (SELECT sc.doc_id, sum(s) AS score FROM sc
         |        JOIN filt ON filt.doc_id = sc.doc_id GROUP BY sc.doc_id)
         |${rankSel(10)}""".stripMargin,

    "ft_span_near" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a
         |JOIN tokens b ON b.doc_id = a.doc_id AND b.pos > a.pos
         |  AND (b.pos - a.pos + 1) - 2 <= 2
         |WHERE a.term = 'table' AND b.term = 'scan' ORDER BY 1""".stripMargin,

    // unordered: any-order window, width - 2 <= slop(2)  =>  |dpos| <= 3
    "ft_span_unordered" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a
         |JOIN tokens b ON b.doc_id = a.doc_id
         |  AND abs(b.pos - a.pos) <= 3
         |WHERE a.term = 'scan' AND b.term = 'table' ORDER BY 1""".stripMargin,

    // span-first: 'batch' within the first 2 positions (raw positions,
    // stopword gaps preserved)
    "ft_span_first" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE term = 'batch' AND pos < 2 ORDER BY doc_id""".stripMargin,

    // SpanPositionRangeQuery: single-term span [pos, pos+1) survives when
    // start <= pos and pos+1 <= end, i.e. pos in [2, 6)
    "ft_span_posrange" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE term = 'batch' AND pos >= 2 AND pos < 6 ORDER BY doc_id""".stripMargin,

    // FieldMaskingSpanQuery over the position-parallel rev: field — the
    // masked leg's spans equal the content term's, so the ordered slop-0
    // near is exactly the phrase batch->merge
    "ft_span_fieldmask" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a JOIN tokens b
         |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |WHERE a.term = 'batch' AND b.term = 'merge'
         |ORDER BY a.doc_id""".stripMargin,

    // CommonTermsQuery: df > n/2 terms demote to optional, rare terms
    // required; all matched terms still score
    "ft_common_terms" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('table'),('dup'),('scan')),
         |$bm25ClauseCte,
         |req AS (SELECT qterm FROM dfq WHERE df <= (SELECT n FROM cs) // 2),
         |ok AS (SELECT doc_id FROM tf WHERE qterm IN (SELECT qterm FROM req)
         |       GROUP BY doc_id
         |       HAVING count(DISTINCT qterm) = (SELECT count(*) FROM req)),
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc
         |        WHERE doc_id IN (SELECT doc_id FROM ok) GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // infix suggester: dictionary terms containing 'or', df-weighted
    "ft_suggest_infix" ->
      s"""WITH $tokensCte,
         |d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |      FROM tokens GROUP BY term)
         |SELECT term, df FROM d WHERE term LIKE '%or%'
         |ORDER BY df DESC, term LIMIT 5""".stripMargin,

    // terms component: prefix-bounded dictionary enumeration with df/ttf
    "terms_component" ->
      s"""WITH $tokensCte
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |       CAST(count(*) AS BIGINT) AS ttf
         |FROM tokens WHERE term LIKE 's%'
         |GROUP BY term ORDER BY term LIMIT 10""".stripMargin,

    // significant terms: foreground ('dup' result set) vs background
    // rate lift, double math in the engine's operation order
    "significant_terms" ->
      s"""WITH $tokensCte,
         |fg AS (SELECT DISTINCT doc_id FROM tokens WHERE term = 'dup'),
         |fgt AS (SELECT t.term, CAST(count(DISTINCT t.doc_id) AS BIGINT) AS fg_df
         |        FROM tokens t JOIN fg ON fg.doc_id = t.doc_id GROUP BY t.term),
         |bg AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM tokens GROUP BY term),
         |sel AS (SELECT fgt.term, fgt.fg_df, bg.df,
         |          (CAST(fgt.fg_df AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM fg)) /
         |          (CAST(bg.df AS DOUBLE) /
         |             (SELECT CAST(count(*) AS DOUBLE) FROM documents)) AS score
         |        FROM fgt JOIN bg USING (term))
         |SELECT term, fg_df, df, score FROM sel
         |ORDER BY round(score, 9) DESC, term LIMIT 10""".stripMargin,

    // facet.query: one count per arbitrary sub-query
    "facet_query" ->
      s"""WITH $tokensCte
         |SELECT facet, CAST(cnt AS BIGINT) AS cnt FROM (
         |  SELECT 'merge' AS facet, (SELECT count(*) FROM documents d
         |    WHERE ${boolDoc("merge")}) AS cnt
         |  UNION ALL
         |  SELECT 'scan_or_table', (SELECT count(*) FROM documents d
         |    WHERE ${boolDoc("scan")} OR ${boolDoc("table")})
         |  UNION ALL
         |  SELECT 'spark_window', (SELECT count(*) FROM documents d
         |    WHERE ${boolDoc("spark")} AND ${boolDoc("window")}))
         |ORDER BY facet""".stripMargin,

    // interval facets: arbitrary overlapping intervals, one count each
    "facet_interval" ->
      s"""SELECT interval, CAST(cnt AS BIGINT) AS cnt FROM (
         |  SELECT 'low' AS interval, (SELECT count(*) FROM orders
         |    WHERE o_totalprice < 150000) AS cnt
         |  UNION ALL
         |  SELECT 'mid', (SELECT count(*) FROM orders
         |    WHERE o_totalprice BETWEEN 100000 AND 250000)
         |  UNION ALL
         |  SELECT 'high', (SELECT count(*) FROM orders
         |    WHERE o_totalprice >= 200000))
         |ORDER BY interval""".stripMargin,

    "ft_span_or" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE term IN ('merge', 'stream') ORDER BY doc_id""".stripMargin,

    // query-time synonym expansion: 'query' OR its synonym 'scan'
    "ft_synonym" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE term IN ('query', 'scan') ORDER BY doc_id""".stripMargin,

    // ASCII folding happens on the ENGINE's query path; the folded terms
    // are what must match
    "ft_folded" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE term IN ('merge', 'table') ORDER BY doc_id""".stripMargin,

    "ft_boost" ->
      s"""${bm25With("('spark'),('vector')")},
         |agg AS (SELECT doc_id,
         |          sum(s * CASE WHEN qterm = 'spark' THEN 2.0 ELSE 1.0 END) AS score
         |        FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    "ft_reqopt" ->
      s"""${bm25With("('spark'),('window')")},
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |        HAVING sum(CASE WHEN qterm = 'spark' THEN 1 ELSE 0 END) > 0)
         |${rankSel(15)}""".stripMargin,

    "ft_rescore" ->
      s"""${bm25With("('spark'),('vector'),('window'),('merge')")},
         |base AS (SELECT doc_id, sum(s) AS score FROM sc
         |         WHERE qterm <> 'merge' GROUP BY doc_id),
         |cand AS (SELECT doc_id, score FROM (
         |  SELECT doc_id, score, row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS rn
         |  FROM base) WHERE rn <= 40),
         |sec AS (SELECT doc_id, sum(s) AS s2 FROM sc
         |        WHERE qterm = 'merge' GROUP BY doc_id),
         |agg AS (SELECT c.doc_id, c.score + 2.0 * coalesce(sec.s2, 0) AS score
         |        FROM cand c LEFT JOIN sec ON sec.doc_id = c.doc_id)
         |${rankSel(10)}""".stripMargin,

    // Solr ReRank: top-30 main, first 20 rescored (+3*window score) and
    // re-sorted, ranks 21-30 keep main ordering (the combined page)
    "ft_rerank" ->
      s"""${bm25With("('spark'),('vector'),('window')")},
         |base AS (SELECT doc_id, sum(s) AS score FROM sc
         |         WHERE qterm <> 'window' GROUP BY doc_id),
         |mainq AS (SELECT doc_id, score,
         |            row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS mrank
         |          FROM base),
         |sec AS (SELECT doc_id, sum(s) AS s2 FROM sc
         |        WHERE qterm = 'window' GROUP BY doc_id),
         |resc AS (SELECT m.doc_id, m.score + 3.0 * coalesce(sec.s2, 0) AS comb
         |         FROM mainq m LEFT JOIN sec ON sec.doc_id = m.doc_id
         |         WHERE m.mrank <= 20)
         |SELECT rank, doc_id FROM (
         |  SELECT CAST(row_number() OVER (
         |      ORDER BY round(comb, 9) DESC, doc_id) AS BIGINT) AS rank,
         |    doc_id FROM resc
         |  UNION ALL
         |  SELECT CAST(mrank AS BIGINT), doc_id FROM mainq
         |  WHERE mrank > 20 AND mrank <= 30)
         |ORDER BY rank""".stripMargin,

    "ft_mlt" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |d0 AS (SELECT term, count(*) AS tf FROM tokens WHERE doc_id = 0 GROUP BY term),
         |alldf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
         |q AS (SELECT d0.term AS qterm FROM d0 JOIN alldf USING (term)
         |      WHERE alldf.df >= 2
         |      ORDER BY d0.tf DESC, alldf.df ASC, d0.term LIMIT 5),
         |$bm25ClauseCte,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc
         |        WHERE doc_id <> 0 GROUP BY doc_id)
         |${rankSel(10)}""".stripMargin,

    "ft_numeric_range" ->
      s"""WITH $tokensCte,
         |$dlCsCte
         |SELECT doc_id FROM dl WHERE dl >= 30 AND dl < 60 ORDER BY doc_id""".stripMargin,

    "ft_page2" ->
      s"""$bm25OrWith,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |SELECT CAST(rn - 10 AS BIGINT) AS page_rank, doc_id FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS rn
         |  FROM agg)
         |WHERE rn BETWEEN 11 AND 20 ORDER BY page_rank""".stripMargin,

    "ft_dismax" ->
      s"""$bm25OrWith,
         |agg AS (SELECT doc_id, max(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(10)}""".stripMargin,

    // LM-Dirichlet, mu=2000: per clause
    // max(0, ln(1 + tf/(mu*(ttf+1)/(collTokens+1))) + ln(mu/(dl_q+mu)))
    "ft_lmdirichlet" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('dup'),('customer')),
         |tf AS (SELECT t.doc_id, q.qterm, CAST(count(*) AS BIGINT) AS tf
         |       FROM tokens t JOIN q ON q.qterm = t.term GROUP BY 1, 2),
         |ttfq AS (SELECT q.qterm,
         |           (SELECT count(*) FROM tokens t WHERE t.term = q.qterm) AS ttf
         |         FROM q),
         |sc AS (SELECT tf.doc_id,
         |         greatest(0, ln(1 + tf.tf / (2000.0 * ((ttfq.ttf + 1.0) /
         |             (cs.sumdl + 1.0)))) +
         |           ln(2000.0 / (nrm.qdl + 2000.0))) AS s
         |       FROM tf, ttfq, dl, nrm, cs
         |       WHERE ttfq.qterm = tf.qterm AND dl.doc_id = tf.doc_id
         |         AND dl.dl BETWEEN nrm.lo AND nrm.hi),
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // German light stem "ord": the only corpus surface form is "order"
    // (the analyzer drops GERMAN stopwords, which never include "order",
    // so tf = raw occurrence count)
    "ft_stemmed_de" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'order' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // French minimal stem "vecto" <- "vector"
    "ft_stemmed_fr" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'vector' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Spanish light stem "tabl" <- "table"
    "ft_stemmed_es" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'table' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Portuguese light stem "merg" <- "merge"
    "ft_stemmed_pt" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'merge' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Norwegian light: merge -> merg (final -e); only 'merge' in the
    // corpus vocabulary lands on that stem
    "ft_stemmed_no" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'merge' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Czech: value -> valu (final-vowel case strip); unique in the vocab
    "ft_stemmed_cz" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'value' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Dutch snowball: table -> tabl (e-ending); unique preimage
    "ft_stemmed_nl" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'table' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Danish snowball: customer -> custom (main suffix er); unique
    "ft_stemmed_da" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'customer' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Romanian snowball: data -> dat (RV final vowel); unique preimage
    "ft_stemmed_ro" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'data' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // German2 snowball: customer -> custom; unique preimage
    "ft_stemmed_de2" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'customer' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Galician RSLP: vector -> vec; unique preimage
    "ft_stemmed_gl" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'vector' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Portuguese RSLP: stream -> stre; unique preimage
    "ft_stemmed_ptrslp" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'stream' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Turkish snowball: data -> da (locative -ta, back harmony); unique
    "ft_stemmed_tr" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'data' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Catalan snowball: vector -> vect (standard suffix -or); unique
    "ft_stemmed_ca" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'vector' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Basque snowball: merge -> mer (izenak -ge); unique preimage
    "ft_stemmed_eu" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'merge' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Brazilian: filter -> filt (step2 verb -er in RV); unique preimage
    "ft_stemmed_br" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'filter' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Polish stempel: column -> columna (patch-trie); unique preimage
    "ft_stemmed_pl" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'column' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Irish snowball: the -> te (initial_morph th lenition); unique
    "ft_stemmed_ga" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'the' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Compound decomposition with dict {"wind"}: each 'window' token
    // also indexes subword 'wind', so tf(wind) == count('window')
    "ft_compound_de" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'window' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Russian light: Cyrillic-only rules => Latin corpus terms identical
    "ft_stemmed_ru" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'query' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Swedish light stem "vect" <- "vector"
    "ft_stemmed_sv" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'vector' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Finnish light stem "sor" <- "sort"
    "ft_stemmed_fi" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'sort' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Hungarian light stem "stre" <- "stream"
    "ft_stemmed_hu" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'stream' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Index-time synonym fast->quick: phrase "quick hash" == docs with
    // adjacent (fast, hash) in the post-stop stream
    "ft_synonym_index" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a
         |JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  AND b.term = 'hash'
         |WHERE a.term = 'fast' ORDER BY 1""".stripMargin,

    // Multi-token LHS "hash agg" -> "hashagg": injected-term tf == count
    // of consecutive (hash, agg) pairs per doc
    "ft_synonym_multitok" ->
      s"""WITH $tokensCte
         |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokens a
         |JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  AND b.term = 'agg'
         |WHERE a.term = 'hash' GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // eDisMax qf over {content^1, path^2}: per term only one field can
    // match in this corpus (path tokens are numeric), so each term's
    // dismax is its single field score; terms sum per doc. Path clause =
    // df=1 idf, pdl=1 norm, boost 2.
    "ft_edismax_qf" ->
      s"""${bm25With("('spark')")},
         |scp AS (
         |  SELECT doc_id,
         |         2.0 * ln(1 + ((SELECT n FROM cs) - 1 + 0.5) / (1 + 0.5)) * 2.2 /
         |         (1 + 1.2 * (0.25 + 0.75 *
         |            (SELECT qdl FROM nrm WHERE 1 BETWEEN lo AND hi))) AS s
         |  FROM documents WHERE doc_id = 123),
         |agg AS (SELECT doc_id, sum(s) AS score FROM
         |        (SELECT doc_id, s FROM sc UNION ALL SELECT doc_id, s FROM scp)
         |        GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // Span-near with a prefix leg: 'fast' immediately followed by any
    // s* term (SpanMultiTermQueryWrapper expansion)
    "ft_span_wildcard" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a
         |JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  AND b.term LIKE 's%'
         |WHERE a.term = 'fast' ORDER BY 1""".stripMargin,

    // Delete-by-query 'dup' then BM25 "spark window": full-corpus stats
    // (tombstones still counted), results exclude the deleted docs
    "ft_delete_search" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |deld AS (SELECT DISTINCT doc_id FROM tokens WHERE term = 'dup'),
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc
         |        WHERE doc_id NOT IN (SELECT doc_id FROM deld)
         |        GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // Same search after compaction: stats recomputed over survivors only
    "ft_compact_search" ->
      s"""WITH $tokAllCte,
         |stop(slang, sterm) AS (VALUES $stopValues),
         |tokens0 AS (
         |  SELECT t.doc_id, t.lang, t.term, t.pos FROM tokall t
         |  LEFT JOIN stop s ON s.slang = t.lang AND s.sterm = t.term
         |  WHERE s.sterm IS NULL),
         |deld AS (SELECT DISTINCT doc_id FROM tokens0 WHERE term = 'dup'),
         |tokens AS (SELECT * FROM tokens0
         |           WHERE doc_id NOT IN (SELECT doc_id FROM deld)),
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         |       FROM tokens GROUP BY doc_id),
         |cs AS (SELECT (SELECT count(*) FROM documents) -
         |              (SELECT count(*) FROM deld) AS n,
         |              (SELECT count(*) FROM tokens) AS sumdl),
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // Atomic update pre-compaction: docs containing 'vector' rewritten
    // (vector -> vectorized) under the same key; old versions excluded
    // from results but still counted in stats (delete-by-key + add)
    "ft_update_search" ->
      s"""WITH docs2 AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, replace(text, 'vector', 'vectorized'), lang
         |  FROM documents WHERE text LIKE '%vector%'),
         |${tokensCteOver("docs2")},
         |${dlCsCteOver("docs2")},
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('vectorized')),
         |$bm25ClauseCte,
         |deld AS (SELECT doc_id FROM documents WHERE text LIKE '%vector%'),
         |agg AS (SELECT CASE WHEN sc.doc_id >= 1000000
         |                    THEN sc.doc_id - 1000000 ELSE sc.doc_id END AS doc_id,
         |               sum(s) AS score
         |        FROM sc WHERE sc.doc_id NOT IN (SELECT doc_id FROM deld)
         |        GROUP BY 1)
         |${rankSel(15)}""".stripMargin,

    // Same search after compaction: stats over the rewritten corpus only
    "ft_update_compact" ->
      s"""WITH docs2 AS (
         |  SELECT doc_id,
         |         CASE WHEN text LIKE '%vector%'
         |              THEN replace(text, 'vector', 'vectorized')
         |              ELSE text END AS text,
         |         lang FROM documents),
         |${tokensCteOver("docs2")},
         |${dlCsCteOver("docs2")},
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('vectorized')),
         |$bm25ClauseCte,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // Realtime get of doc 123 by unique key: post-update commit hash when
    // the doc was rewritten, the original content hash otherwise
    "ft_rtget" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       md5(CASE WHEN text LIKE '%vector%'
         |                THEN replace(text, 'vector', 'vectorized')
         |                ELSE text END) AS commit
         |FROM documents WHERE doc_id = 123""".stripMargin,

    // eDisMax pf: term-sum main query + a SCORED exact-phrase clause
    // (phrase idf = sum of the member terms' idfs, freq = aligned starts)
    "ft_edismax_pf" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |ph AS (SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS ptf
         |       FROM tokens t1 JOIN tokens t2
         |         ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |       WHERE t1.term = 'spark' AND t2.term = 'window'
         |       GROUP BY t1.doc_id),
         |pidf AS (SELECT sum(ln(1 + (cs.n - df + 0.5) / (df + 0.5))) AS v
         |         FROM dfq, cs),
         |phs AS (SELECT ph.doc_id,
         |          (SELECT v FROM pidf) * 2.2 * ph.ptf /
         |          (ph.ptf + 1.2 * (0.25 + 0.75 * nrm.qdl /
         |             (CAST(cs.sumdl AS DOUBLE) / cs.n))) AS s
         |        FROM ph, dl, nrm, cs
         |        WHERE dl.doc_id = ph.doc_id
         |          AND dl.dl BETWEEN nrm.lo AND nrm.hi),
         |agg AS (SELECT doc_id, sum(s) AS score FROM (
         |          SELECT doc_id, s FROM sc
         |          UNION ALL SELECT doc_id, s FROM phs)
         |        GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // Term vector of doc 42 with positions: (term, tf, first occurrence)
    "ft_termvector_pos" ->
      s"""WITH $tokensCte
         |SELECT term, CAST(count(*) AS BIGINT) AS tf,
         |       CAST(min(pos) AS BIGINT) AS first_pos
         |FROM tokens WHERE doc_id = 42
         |GROUP BY term ORDER BY term""".stripMargin,

    // Segments introspection: per doc-partition doc count + total
    // analyzed length (docPart = doc_id // 64 by construction)
    "index_segments" ->
      s"""WITH $tokensCte,
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         |       FROM tokens GROUP BY doc_id)
         |SELECT CAST(d.doc_id // 64 AS BIGINT) AS doc_part,
         |       CAST(count(*) AS BIGINT) AS docs,
         |       CAST(sum(coalesce(dl.dl, 0)) AS BIGINT) AS sum_dl
         |FROM documents d LEFT JOIN dl ON dl.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // JSON-facet bucket metrics over the "spark window" result set
    "facet_metrics" ->
      s"""WITH $tokensCte
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
         |       round(avg(d.n_chars), 6) AS avg_chars
         |FROM documents d
         |WHERE ${boolDoc("spark")} OR ${boolDoc("window")}
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // graph gather: seed order 1 -> suppliers -> orders they touch
    "graph_gather" ->
      s"""SELECT DISTINCT l_orderkey FROM lineitem
         |WHERE l_suppkey IN (SELECT DISTINCT l_suppkey FROM lineitem
         |                    WHERE l_orderkey = 1)
         |ORDER BY l_orderkey""".stripMargin,

    // Term vector of doc 42: (term, tf) of its analyzed content
    "ft_termvector" ->
      s"""WITH $tokensCte
         |SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tokens
         |WHERE doc_id = 42 GROUP BY term ORDER BY term""".stripMargin,

    // bf boost function: BM25("spark window") + 0.001*n_chars
    "ft_boost_func" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |agg AS (SELECT sc.doc_id,
         |          sum(sc.s) + 0.001 * any_value(d.n_chars) AS score
         |        FROM sc JOIN documents d ON d.doc_id = sc.doc_id
         |        GROUP BY sc.doc_id)
         |${rankSel(10)}""".stripMargin,

    // date range facet, day gap
    "facet_date" ->
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // JSON field $.k of props, grouped
    "json_field" ->
      s"""SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k,
         |       round(sum(value), 6) AS sum_value,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // nested facet: top-2 sources per lang bucket
    "facet_nested" ->
      s"""SELECT lang, source, cnt FROM (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY count(*) DESC, source) AS rn
         |  FROM documents GROUP BY lang, source)
         |WHERE rn <= 2 ORDER BY lang, cnt DESC, source""".stripMargin,

    // Phonetic match for "vektor" (Soundex V236): 'vector' is the only
    // corpus term in that phonetic class (v-2-3-6; every other vocab word
    // encodes differently), so the match set is exactly its postings
    "ft_phonetic" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'vector' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Double-Metaphone phonetic match for "qwery" (code KR): 'query' is
    // the only corpus term in that phonetic class (every other vocab word
    // encodes differently), so the match set is exactly its postings
    "ft_phonetic_dm" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'query' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Beider-Morse phonetic match for "vektor": 'vector' is the only
    // corpus term sharing a BM alternate (viktor); match set = postings
    "ft_phonetic_bm" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'vector' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Daitch-Mokotoff Soundex match for "vektor" (753900): 'vector'
    // {743900, 753900} is the only corpus term intersecting
    "ft_phonetic_dmx" ->
      s"""WITH $tokAllCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tokall
         |WHERE term = 'vector' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Elevation: doc_ids 7, 3 pinned to ranks 1-2; organic BM25 "spark
    // window" ranking follows, excluding the pinned docs
    "ft_elevate" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id),
         |organic AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS rn
         |  FROM agg WHERE doc_id NOT IN (7, 3))
         |SELECT CAST(rank AS BIGINT) AS rank, CAST(doc_id AS BIGINT) AS doc_id
         |FROM (
         |  SELECT 1 AS rank, 7 AS doc_id
         |  UNION ALL SELECT 2, 3
         |  UNION ALL SELECT rn + 2, doc_id FROM organic WHERE rn <= 8)
         |ORDER BY rank""".stripMargin,

    // Char filter: regex rewrite before tokenization, count the token
    "charfilter_replace" ->
      s"""WITH rep AS (SELECT doc_id,
         |    regexp_replace(text, 'sp[a-z]+k', 'flink', 'g') AS t
         |  FROM documents),
         |tok AS (SELECT doc_id,
         |    unnest(regexp_extract_all(t, '$TokRe')) AS term FROM rep)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok
         |WHERE term = 'flink' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // WikipediaTokenizer over "[[Category:<lang> docs]] ''intro'' <text>
    // [http://example.org/<lang> here]": category words at pos 0-1,
    // italic intro at 2, text tokens (all ALPHANUM) at raw pos + 3, then
    // the URL and its first link word SHARING position ntok+3 (the
    // tokenizer emits the first external-link word at posInc 0)
    "analysis_wikipedia" ->
      s"""WITH d7 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 7 = 5),
         |${tokAllCteOver("d7")},
         |n AS (SELECT doc_id, max(pos) + 1 AS ntok FROM tokall GROUP BY doc_id)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, type, term FROM (
         |  SELECT doc_id, 0 AS pos, 'c' AS type, lang AS term FROM d7
         |  UNION ALL SELECT doc_id, 1, 'c', 'docs' FROM d7
         |  UNION ALL SELECT doc_id, 2, 'i', 'intro' FROM d7
         |  UNION ALL SELECT doc_id, pos + 3, '<ALPHANUM>', term FROM tokall
         |  UNION ALL SELECT d7.doc_id, ntok + 3, 'elu',
         |    'http://example.org/' || lang FROM d7 JOIN n USING (doc_id)
         |  UNION ALL SELECT d7.doc_id, ntok + 3, 'el', 'here'
         |    FROM d7 JOIN n USING (doc_id))
         |ORDER BY doc_id, pos, type, term""".stripMargin,

    // HTML strip: the scaffold is fixed, so the oracle can CONSTRUCT the
    // expected stripped string — <html><body><p> are block (-> \n each),
    // </p>+script -> \n\n, <b></b> inline (removed), &amp; &#33; &Gamma;
    // &nbsp; decode to '& ! Γ ', comments vanish, </body></html> -> \n\n
    "charfilter_html" ->
      s"""SELECT doc_id,
         |  chr(10) || chr(10) || chr(10) || text || chr(10) || chr(10) ||
         |  lang || ' & ! ' || 'Γ' || ' ' || chr(10) || chr(10)
         |    AS stripped
         |FROM documents ORDER BY doc_id""".stripMargin,

    // frange: 0.5*n_chars + 10 in [100, 200]
    "func_range" ->
      s"""SELECT doc_id FROM documents
         |WHERE n_chars * 0.5 + 10 BETWEEN 100 AND 200
         |ORDER BY doc_id""".stripMargin,

    // DFR GL2: lam=(ttf+1)/(N+ttf+1); tfn=tf*log2(1+avgdl/qdl);
    // s=(log2(1+lam)+tfn*log2((1+lam)/lam))/(tfn+1)
    "ft_dfr_gl2" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('dup'),('spark')),
         |tf AS (SELECT t.doc_id, q.qterm, CAST(count(*) AS BIGINT) AS tf
         |       FROM tokens t JOIN q ON q.qterm = t.term GROUP BY 1, 2),
         |ttfq AS (SELECT q.qterm,
         |           (SELECT count(*) FROM tokens t WHERE t.term = q.qterm) AS ttf
         |         FROM q),
         |sc AS (SELECT tf.doc_id,
         |         (log2(1 + (ttfq.ttf + 1.0) / (cs.n + ttfq.ttf + 1.0)) +
         |          (tf.tf * log2(1 + (CAST(cs.sumdl AS DOUBLE) / cs.n) / nrm.qdl)) *
         |          log2((1 + (ttfq.ttf + 1.0) / (cs.n + ttfq.ttf + 1.0)) /
         |               ((ttfq.ttf + 1.0) / (cs.n + ttfq.ttf + 1.0)))) /
         |         ((tf.tf * log2(1 + (CAST(cs.sumdl AS DOUBLE) / cs.n) / nrm.qdl)) + 1)
         |           AS s
         |       FROM tf, ttfq, dl, nrm, cs
         |       WHERE ttfq.qterm = tf.qterm AND dl.doc_id = tf.doc_id
         |         AND dl.dl BETWEEN nrm.lo AND nrm.hi),
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // IB SPL/DF/H2: lam=(df+1)/(N+1); s=-ln((lam^(tfn/(tfn+1))-lam)/(1-lam))
    "ft_ib_spl" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('vector'),('scan')),
         |tf AS (SELECT t.doc_id, q.qterm, CAST(count(*) AS BIGINT) AS tf
         |       FROM tokens t JOIN q ON q.qterm = t.term GROUP BY 1, 2),
         |dfq AS (SELECT qterm, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id,
         |         -ln((pow((dfq.df + 1.0) / (cs.n + 1.0),
         |                  (tf.tf * log2(1 + (CAST(cs.sumdl AS DOUBLE) / cs.n) / nrm.qdl)) /
         |                  ((tf.tf * log2(1 + (CAST(cs.sumdl AS DOUBLE) / cs.n) / nrm.qdl)) + 1))
         |              - (dfq.df + 1.0) / (cs.n + 1.0)) /
         |             (1 - (dfq.df + 1.0) / (cs.n + 1.0))) AS s
         |       FROM tf, dfq, dl, nrm, cs
         |       WHERE dfq.qterm = tf.qterm AND dl.doc_id = tf.doc_id
         |         AND dl.dl BETWEEN nrm.lo AND nrm.hi),
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // LM Jelinek-Mercer (lambda=0.7): s=ln(1+((1-l)*tf/qdl)/(l*P(t|C))),
    // P(t|C)=(ttf+1)/(collTokens+1)
    "ft_lmjm" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('dup'),('window')),
         |tf AS (SELECT t.doc_id, q.qterm, CAST(count(*) AS BIGINT) AS tf
         |       FROM tokens t JOIN q ON q.qterm = t.term GROUP BY 1, 2),
         |ttfq AS (SELECT q.qterm,
         |           (SELECT count(*) FROM tokens t WHERE t.term = q.qterm) AS ttf
         |         FROM q),
         |sc AS (SELECT tf.doc_id,
         |         ln(1 + (0.3 * tf.tf / nrm.qdl) /
         |                (0.7 * ((ttfq.ttf + 1.0) / (cs.sumdl + 1.0)))) AS s
         |       FROM tf, ttfq, dl, nrm, cs
         |       WHERE ttfq.qterm = tf.qterm AND dl.doc_id = tf.doc_id
         |         AND dl.dl BETWEEN nrm.lo AND nrm.hi),
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // max + 0.3 * (sum of the non-max clauses)
    "ft_dismax_tie" ->
      s"""$bm25OrWith,
         |agg AS (SELECT doc_id, max(s) + 0.3 * (sum(s) - max(s)) AS score
         |        FROM sc GROUP BY doc_id)
         |${rankSel(10)}""".stripMargin,

    // 'scan' occurrence with no 'table' at distance <= 1
    "ft_span_not" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a
         |WHERE a.term = 'scan' AND NOT EXISTS (
         |  SELECT 1 FROM tokens b WHERE b.doc_id = a.doc_id
         |    AND b.term = 'table' AND abs(b.pos - a.pos) <= 1)
         |ORDER BY 1""".stripMargin,

    "ft_tfidf" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('merge'),('window')),
         |tf AS (SELECT t.doc_id, q.qterm, CAST(count(*) AS BIGINT) AS tf
         |       FROM tokens t JOIN q ON q.qterm = t.term GROUP BY 1, 2),
         |dfq AS (SELECT qterm, CAST(count(*) AS BIGINT) AS df,
         |          1 + ln((SELECT n FROM cs) / (count(*) + 1.0)) AS idf
         |        FROM tf GROUP BY qterm),
         |qn AS (SELECT 1 / sqrt(sum(idf * idf)) AS qn FROM dfq),
         |sc AS (SELECT tf.doc_id,
         |         sqrt(tf.tf) * (dfq.idf * dfq.idf) * qn.qn * nrm.cnorm AS s
         |       FROM tf, dfq, dl, nrm, qn
         |       WHERE dfq.qterm = tf.qterm AND dl.doc_id = tf.doc_id
         |         AND dl.dl BETWEEN nrm.lo AND nrm.hi),
         |agg AS (SELECT doc_id,
         |          sum(s) * (count(*) / 3.0) AS score
         |        FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // SweetSpot: Classic TF-IDF with baseline-floored tf (<=2 -> 1.0,
    // else sqrt(tf-1)) and a flat lengthNorm plateau over the QUANTIZED
    // dl (nrm.qdl): 1/sqrt(0.5*(|qdl-60|+|qdl-100|-40)+1)
    "ft_sweetspot" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('merge'),('window')),
         |tf AS (SELECT t.doc_id, q.qterm, CAST(count(*) AS BIGINT) AS tf
         |       FROM tokens t JOIN q ON q.qterm = t.term GROUP BY 1, 2),
         |dfq AS (SELECT qterm, CAST(count(*) AS BIGINT) AS df,
         |          1 + ln((SELECT n FROM cs) / (count(*) + 1.0)) AS idf
         |        FROM tf GROUP BY qterm),
         |qn AS (SELECT 1 / sqrt(sum(idf * idf)) AS qn FROM dfq),
         |sc AS (SELECT tf.doc_id,
         |         (CASE WHEN tf.tf <= 2 THEN 1.0
         |               ELSE sqrt(tf.tf + 1.0 - 2.0) END)
         |         * (dfq.idf * dfq.idf) * qn.qn
         |         * (1 / sqrt(0.5 * (abs(nrm.qdl - 60) + abs(nrm.qdl - 100)
         |                            - 40) + 1)) AS s
         |       FROM tf, dfq, dl, nrm, qn
         |       WHERE dfq.qterm = tf.qterm AND dl.doc_id = tf.doc_id
         |         AND dl.dl BETWEEN nrm.lo AND nrm.hi),
         |agg AS (SELECT doc_id,
         |          sum(s) * (count(*) / 3.0) AS score
         |        FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    "ft_wand_top20" ->
      s"""$bm25OrWith,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(20)}""".stripMargin,

    "ft_wand_conj" ->
      s"""${bm25With("('small'),('value')")},
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |        HAVING count(*) = 2)
         |${rankSel(10)}""".stripMargin,

    "ft_explain" ->
      s"""$bm25OrWith,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id),
         |top1 AS (SELECT doc_id FROM agg
         |         ORDER BY round(score, 9) DESC, doc_id LIMIT 1)
         |SELECT t.doc_id, sc.qterm AS term,
         |  CAST(row_number() OVER (ORDER BY round(sc.s, 9) DESC, sc.qterm) AS BIGINT)
         |    AS contrib_rank
         |FROM sc JOIN top1 t ON t.doc_id = sc.doc_id
         |ORDER BY contrib_rank""".stripMargin,

    "ft_sort_dl" ->
      s"""WITH $tokensCte,
         |$dlCsCte
         |SELECT DISTINCT t.doc_id, dl.dl FROM tokens t
         |JOIN dl ON dl.doc_id = t.doc_id
         |WHERE t.term = 'spark'
         |ORDER BY dl.dl DESC, t.doc_id LIMIT 15""".stripMargin,

    "ft_wand_msm2" ->
      s"""${bm25With("('merge'),('window'),('stream')")},
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id
         |        HAVING count(*) >= 2)
         |${rankSel(15)}""".stripMargin,

    "ft_nrt_union" ->
      s"""${bm25With("('stream'),('batch')")},
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    "ft_lang_stopword" ->
      s"""WITH $tokensCte
         |SELECT d.lang, CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n
         |FROM tokens t JOIN documents d ON d.doc_id = t.doc_id
         |WHERE t.term = 'the' GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "ft_count_or" ->
      s"""WITH $tokensCte
         |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tokens
         |WHERE term IN ('merge','window','stream')""".stripMargin,

    // MatchAllDocsQuery: every indexed doc matches; the index holds one
    // row per documents row
    "ft_matchall_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS n FROM documents",

    "ft_checkindex" ->
      s"""SELECT * FROM (VALUES
         |  ('block_invariants', CAST(0 AS BIGINT)),
         |  ('block_ranges_disjoint', CAST(0 AS BIGINT)),
         |  ('collstats_consistent', CAST(0 AS BIGINT)),
         |  ('commit_files_exist', CAST(0 AS BIGINT)),
         |  ('docid_unique', CAST(0 AS BIGINT)),
         |  ('norm_matches_dl', CAST(0 AS BIGINT)),
         |  ('sha256_matches_source', CAST(0 AS BIGINT)),
         |  ('termdict_vs_postings', CAST(0 AS BIGINT))
         |) AS t("check", violations) ORDER BY 1""".stripMargin,

    "ft_sha256" ->
      s"""SELECT doc_id, sha256(text) AS sha FROM documents
         |WHERE doc_id < 40 ORDER BY doc_id""".stripMargin,

    "ft_highlight" ->
      s"""${bm25With("('vector')")},
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id),
         |top3 AS (SELECT doc_id FROM agg
         |         ORDER BY round(score, 9) DESC, doc_id LIMIT 3)
         |SELECT d.doc_id,
         |  CAST(strpos(lower(d.text), 'vector') AS INT) AS pos,
         |  substr(d.text,
         |    CAST(greatest(1, strpos(lower(d.text), 'vector') - 20) AS BIGINT),
         |    60) AS snippet
         |FROM documents d JOIN top3 t ON t.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "ft_suggest" ->
      s"""WITH $tokensCte
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |FROM tokens WHERE term LIKE 's%'
         |GROUP BY term ORDER BY df DESC, term LIMIT 8""".stripMargin,

    // ---------- facets / stats / grouping ----------
    "facet_field" ->
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt FROM lineitem
         |WHERE l_quantity > 45 GROUP BY l_returnflag
         |ORDER BY cnt DESC, l_returnflag""".stripMargin,

    // sampled facets: deterministic 1-in-7 hash bin + amortized estimate
    "facet_sampled" ->
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS sampled,
         |       CAST(count(*) * 7 AS BIGINT) AS est
         |FROM lineitem WHERE l_quantity > 45
         |  AND (l_orderkey * 2654435761 + l_linenumber) % 7 = 3
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "facet_range" ->
      s"""SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "facet_range_edges" ->
      s"""SELECT CASE WHEN o_totalprice < 100000 THEN 'before'
         |            WHEN o_totalprice >= 300000 THEN 'after'
         |            ELSE 'b' || CAST(CAST(floor((o_totalprice - 100000) / 50000) AS BIGINT) AS VARCHAR)
         |       END AS bucket, CAST(count(*) AS BIGINT) AS cnt
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "facet_pivot" ->
      s"""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "facet_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS flag,
         |       coalesce(l_linestatus, 'ALL') AS status,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY flag, status""".stripMargin,

    "drill_sideways" ->
      s"""SELECT dim, value, CAST(cnt AS BIGINT) AS cnt FROM (
         |  SELECT 'l_returnflag' AS dim, l_returnflag AS value, count(*) AS cnt
         |  FROM lineitem WHERE l_quantity > 45 AND l_linestatus = 'F' GROUP BY 2
         |  UNION ALL
         |  SELECT 'l_linestatus', l_linestatus, count(*)
         |  FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R' GROUP BY 2)
         |ORDER BY dim, value""".stripMargin,

    "group_twopass" ->
      s"""WITH g AS (SELECT o_orderpriority, count(*) AS gcnt FROM orders
         |           GROUP BY 1 ORDER BY gcnt DESC, o_orderpriority LIMIT 2)
         |SELECT o_orderpriority, CAST(gcnt AS BIGINT) AS gcnt,
         |       CAST(rn AS BIGINT) AS rn, o_orderkey FROM (
         |  SELECT o.o_orderpriority, g.gcnt, o.o_orderkey,
         |    row_number() OVER (PARTITION BY o.o_orderpriority
         |                       ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
         |  FROM orders o JOIN g USING (o_orderpriority))
         |WHERE rn <= 2 ORDER BY o_orderpriority, rn""".stripMargin,

    "stats_numeric" ->
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
         |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
         |  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         |        / 100.0 / count(*), 4) AS avg_r4
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "stats_percentile" ->
      s"""SELECT l_returnflag,
         |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
         |  round(quantile_cont(l_quantity, 0.95), 4) AS p95
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "group_topn" ->
      s"""SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey FROM (
         |  SELECT o_orderpriority, o_orderkey,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM orders)
         |WHERE rn <= 2 ORDER BY o_orderpriority, rn""".stripMargin,

    "collapse_best" ->
      s"""SELECT o_custkey, o_orderkey FROM (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_custkey
         |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM orders)
         |WHERE rn = 1 ORDER BY o_totalprice DESC, o_custkey LIMIT 20""".stripMargin,

    "expand_hits" ->
      s"""WITH ranked AS (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_custkey
         |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM orders),
         |heads AS (
         |  SELECT o_custkey FROM ranked WHERE rn = 1
         |  ORDER BY o_totalprice DESC, o_custkey LIMIT 20)
         |SELECT r.o_custkey, r.o_orderkey, CAST(r.rn AS BIGINT) AS rn
         |FROM ranked r JOIN heads h ON h.o_custkey = r.o_custkey
         |WHERE r.rn > 1 AND r.rn <= 3
         |ORDER BY r.o_custkey, r.rn""".stripMargin,

    "distinct_count" ->
      s"""SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS nparts
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // ---------- joins ----------
    "join_semi" ->
      s"""SELECT c_custkey FROM customer c
         |WHERE c_mktsegment = 'AUTOMOBILE'
         |  AND EXISTS(SELECT 1 FROM orders o
         |             WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
         |ORDER BY c_custkey""".stripMargin,

    "join_score_max" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY score DESC, c_custkey) AS BIGINT) AS rank,
         |       c_custkey, score FROM (
         |  SELECT c_custkey, max(o_totalprice) AS score
         |  FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY 1)
         |ORDER BY score DESC, c_custkey LIMIT 10""".stripMargin,

    "join_score_avg" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY score DESC, c_custkey) AS BIGINT) AS rank,
         |       c_custkey, score FROM (
         |  SELECT c_custkey, round(avg(o_totalprice), 4) AS score
         |  FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY 1)
         |ORDER BY score DESC, c_custkey LIMIT 10""".stripMargin,

    "join_score_total" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY score DESC, c_custkey) AS BIGINT) AS rank,
         |       c_custkey, score FROM (
         |  SELECT c_custkey, round(sum(o_totalprice), 4) AS score
         |  FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY 1)
         |ORDER BY score DESC, c_custkey LIMIT 10""".stripMargin,

    "block_join_parent" ->
      s"""SELECT DISTINCT o_orderkey FROM orders o
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE l.l_quantity >= 50 AND l.l_returnflag = 'R'
         |ORDER BY o_orderkey""".stripMargin,

    "block_join_child" ->
      s"""SELECT l_orderkey, l_linenumber FROM lineitem
         |WHERE EXISTS(SELECT 1 FROM orders o
         |             WHERE o.o_orderkey = l_orderkey AND o.o_totalprice > 400000)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // ---------- set operations ----------
    "setop_intersect" ->
      s"""SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
         |INTERSECT
         |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         |ORDER BY c_custkey""".stripMargin,

    "setop_except" ->
      s"""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         |EXCEPT
         |SELECT c_custkey FROM customer WHERE c_acctbal > 3000
         |ORDER BY c_custkey""".stripMargin,

    "setop_union" ->
      s"""SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
         |UNION
         |SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
         |ORDER BY c_custkey""".stripMargin,

    // ---------- scalar function queries ----------
    "func_query" ->
      s"""WITH mm AS (SELECT min(p_retailprice) AS mn, max(p_retailprice) AS mx FROM part)
         |SELECT p_partkey, CAST(p_size * 2 + 3 AS BIGINT) AS linear,
         |  round(1.0 / (1.0 + 0.1 * p_size), 6) AS recip,
         |  round((p_retailprice - mn) / (mx - mn), 6) AS scaled,
         |  CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 25 THEN 'M' ELSE 'L' END AS mapped,
         |  CAST(CASE WHEN p_type = 'PROMO' THEN p_size ELSE -1 END AS BIGINT) AS if_fn
         |FROM part, mm ORDER BY p_partkey LIMIT 200""".stripMargin,

    "sort_fields" ->
      s"""SELECT l_orderkey, l_linenumber, epoch(l_shipdate) AS ship_epoch
         |FROM lineitem
         |ORDER BY l_shipdate DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,

    // ---------- streaming-expression analogs ----------
    "stream_reduce" ->
      s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "stream_rank" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY value DESC, event_id) AS BIGINT) AS rank,
         |       event_id, value
         |FROM events ORDER BY value DESC, event_id LIMIT 5""".stripMargin,

    // UniqueStream: first tuple of each comparator-equal group over the
    // sorted stream (per user, arrival pinned by ts then event_id)
    "stream_unique" ->
      s"""SELECT user_id, event_id, event_type FROM (
         |  SELECT user_id, event_id, event_type, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "stream_merge" ->
      s"""SELECT event_id, event_type FROM events
         |WHERE event_type IN ('purchase','error')
         |ORDER BY ts, event_id LIMIT 50""".stripMargin,

    "dedup_first" ->
      s"""SELECT user_id, event_type, first_event FROM (
         |  SELECT user_id, event_type, event_id AS first_event,
         |    row_number() OVER (PARTITION BY user_id, event_type
         |                       ORDER BY ts, event_id) AS rn
         |  FROM events)
         |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "window_tumbling" ->
      s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
         |  event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    // ---------- sessionization (gap/island) ----------
    "stream_sessionize" ->
      """WITH l AS (SELECT user_id, ts, value,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, value) AS prev_ts
        |      FROM events),
        |b AS (SELECT *, CASE WHEN prev_ts IS NULL
        |        OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
        |        THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, value
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM b)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(epoch_ms(min(ts)) AS BIGINT) AS first_ms,
        |  CAST(epoch_ms(max(ts)) AS BIGINT) AS last_ms
        |FROM s GROUP BY user_id, sid ORDER BY user_id, first_ms""".stripMargin,

    // ---------- training-data ops ----------
    "dedup_exact" ->
      s"""SELECT min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS group_size
         |FROM documents GROUP BY text ORDER BY keeper""".stripMargin,

    "dedup_jaccard" ->
      s"""WITH $shinglesCte,
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT p.id AS a, q.id AS b, count(*) AS i
         |          FROM sh p JOIN sh q ON q.shingle = p.shingle AND p.id < q.id
         |          GROUP BY 1, 2)
         |SELECT i2.a, i2.b,
         |  round(CAST(i2.i AS DOUBLE) / (sa.n + sb.n - i2.i), 6) AS jaccard
         |FROM inter i2
         |JOIN sizes sa ON sa.id = i2.a JOIN sizes sb ON sb.id = i2.b
         |WHERE CAST(i2.i AS DOUBLE) / (sa.n + sb.n - i2.i) >= 0.2
         |ORDER BY a, b""".stripMargin,

    // Substring dedup: pairs sharing >= 3 winnow-selected fingerprints
    // (k=3, w=4 — same selection as fingerprint_winnow)
    "dedup_substring" ->
      s"""WITH $tokAllCte,
         |kg AS (SELECT a.doc_id AS id, a.pos AS pos,
         |         ('0x' || substr(md5(a.term || ' ' || b.term || ' ' || c.term), 1, 15))::BIGINT AS h
         |       FROM tokall a
         |       JOIN tokall b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |       JOIN tokall c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
         |nsh AS (SELECT id, count(*) AS nsh FROM kg GROUP BY id),
         |wm AS (SELECT id, pos, min(h) OVER (PARTITION BY id ORDER BY pos
         |         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
         |       FROM kg),
         |sel AS (SELECT DISTINCT wm.id, wm.wmin FROM wm
         |        JOIN nsh ON nsh.id = wm.id WHERE wm.pos <= nsh.nsh - 4)
         |SELECT x.id AS a, y.id AS b, CAST(count(*) AS BIGINT) AS shared_fps,
         |       CAST(count(*) + 2 AS BIGINT) AS est_min_overlap
         |FROM sel x JOIN sel y ON x.wmin = y.wmin AND x.id < y.id
         |GROUP BY x.id, y.id HAVING count(*) >= 3
         |ORDER BY a, b""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $shinglesCte,
         |perm(pi, pa, pb) AS (VALUES $minhashPermValues),
         |hh AS (SELECT id, shingle,
         |         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS h
         |       FROM sh),
         |mh AS (SELECT id, pi, min((pa * h + pb) % 2147483647) AS mh
         |       FROM hh, perm GROUP BY id, pi),
         |bands AS (SELECT id, pi // 4 AS band,
         |            string_agg(mh::VARCHAR, ',' ORDER BY pi) AS sig
         |          FROM mh GROUP BY id, band),
         |cand AS (SELECT DISTINCT x.id AS a, y.id AS b FROM bands x
         |         JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.id < y.id),
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c
         |          JOIN sh p ON p.id = c.a
         |          JOIN sh q ON q.id = c.b AND q.shingle = p.shingle
         |          GROUP BY c.a, c.b)
         |SELECT i2.a, i2.b,
         |  round(CAST(i2.i AS DOUBLE) / (sa.n + sb.n - i2.i), 6) AS jaccard
         |FROM inter i2
         |JOIN sizes sa ON sa.id = i2.a JOIN sizes sb ON sb.id = i2.b
         |WHERE CAST(i2.i AS DOUBLE) / (sa.n + sb.n - i2.i) >= 0.2
         |ORDER BY a, b""".stripMargin,

    // ---------- dedup clusters (connected components over LSH pairs) ----------
    // Transitive closure of min-reachable id == the engine's iterated
    // min-label propagation fixed point.
    "dedup_clusters" ->
      s"""$clustersWith
         |SELECT cluster, member FROM comp
         |ORDER BY cluster, member""".stripMargin,

    // MLT boost=true: clause boost = (tf*idf)/best over the picked terms
    "ft_mlt_boost" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |d0 AS (SELECT term, count(*) AS tf FROM tokens WHERE doc_id = 0
         |       GROUP BY term),
         |alldf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens
         |          GROUP BY term),
         |pick AS (SELECT d0.term AS qterm, d0.tf AS dtf, alldf.df
         |         FROM d0 JOIN alldf USING (term)
         |         WHERE alldf.df >= 2
         |         ORDER BY d0.tf DESC, alldf.df ASC, d0.term LIMIT 5),
         |bw AS (SELECT qterm,
         |         dtf * (1 + ln((SELECT n FROM cs) / (df + 1.0))) AS mscore
         |       FROM pick),
         |q AS (SELECT qterm FROM pick),
         |$bm25ClauseCte,
         |agg AS (SELECT sc.doc_id,
         |          sum(sc.s * bw.mscore / (SELECT max(mscore) FROM bw))
         |            AS score
         |        FROM sc JOIN bw ON bw.qterm = sc.qterm
         |        WHERE sc.doc_id <> 0 GROUP BY sc.doc_id)
         |SELECT CAST(row_number() OVER (
         |    ORDER BY round(score, 5) DESC, doc_id) AS BIGINT) AS rank, doc_id
         |FROM agg ORDER BY round(score, 5) DESC, doc_id LIMIT 10""".stripMargin,

    // facet.contains (case-insensitive substring bucket filter)
    "facet_contains" ->
      s"""SELECT p_type, CAST(count(*) AS BIGINT) AS cnt
         |FROM part GROUP BY p_type
         |HAVING instr(lower(p_type), 'ar') > 0
         |ORDER BY cnt DESC, p_type LIMIT 10""".stripMargin,

    // terms.regex: dictionary walk keeping ^s.*k$ terms in index order
    "terms_regex" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |           CAST(count(*) AS BIGINT) AS ttf
         |         FROM tokens GROUP BY term)
         |SELECT term, df, ttf FROM dict
         |WHERE regexp_matches(term, '^s.*k$$')
         |ORDER BY term LIMIT 10""".stripMargin,

    // DisMax bq: main = max(spark, vector) per doc (must match), bq =
    // merge score added when it matches
    "ft_dismax_bq" ->
      s"""${OracleSql.bm25With("('spark'),('vector'),('merge')")},
         |main AS (SELECT doc_id, max(s) AS m FROM sc
         |         WHERE qterm IN ('spark','vector') GROUP BY doc_id),
         |bq AS (SELECT doc_id, s FROM sc WHERE qterm = 'merge'),
         |agg AS (SELECT main.doc_id,
         |          main.m + coalesce(bq.s, 0) AS score
         |        FROM main LEFT JOIN bq ON bq.doc_id = main.doc_id)
         |SELECT CAST(row_number() OVER (
         |    ORDER BY round(score, 5) DESC, doc_id) AS BIGINT) AS rank, doc_id
         |FROM agg ORDER BY round(score, 5) DESC, doc_id LIMIT 15""".stripMargin,

    // near-dup canonical selection: keep the best member per cluster
    // (n_chars desc, member asc)
    "dedup_keep_best" ->
      s"""$clustersWith,
         |best AS (SELECT c.cluster, c.member, d.n_chars,
         |           row_number() OVER (PARTITION BY c.cluster
         |             ORDER BY d.n_chars DESC, c.member) AS rn
         |         FROM comp c JOIN documents d ON d.doc_id = c.member)
         |SELECT cluster, member,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
         |FROM best ORDER BY cluster, member""".stripMargin,

    // ---------- benchmark decontamination (8-gram overlap) ----------
    "decontaminate" ->
      s"""WITH $tokAllCte,
         |tl AS (SELECT doc_id, list(term ORDER BY pos) AS ts
         |       FROM tokall GROUP BY doc_id),
         |g AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+7], ' ') AS gram
         |      FROM tl, UNNEST(generate_series(1, len(ts) - 7)) AS t(i)),
         |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 8)
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS hits
         |FROM g JOIN bg USING (gram)
         |WHERE g.doc_id % 10 <> 8
         |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,

    // ---------- deterministic stratified sampling ----------
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 1000000007) * 2654435761) % 1000 <
        |  CASE lang WHEN 'en' THEN 500 WHEN 'fr' THEN 250 WHEN 'de' THEN 200
        |            WHEN 'es' THEN 200 WHEN 'zh' THEN 100 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    // ---------- blocklist scrub ----------
    "scrub_blocklist" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\bdup\b')) AS BIGINT) AS redactions,
        |  md5(regexp_replace(text, '\bdup\b', '<BAD>', 'g')) AS scrubbed_md5
        |FROM documents
        |WHERE len(regexp_extract_all(text, '\bdup\b')) > 0
        |ORDER BY doc_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $tokAllCte,
         |tf AS (SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tokall GROUP BY 1, 2),
         |th AS (SELECT id, tf, ('0x' || substr(md5(term), 1, 12))::BIGINT AS h FROM tf),
         |bits AS (SELECT id, j,
         |           sum(CASE WHEN (h >> j) & 1 = 1 THEN tf ELSE -tf END) AS s
         |         FROM th, (SELECT unnest(range(48)) AS j) bj GROUP BY id, j),
         |sims AS (SELECT id,
         |           CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
         |         FROM bits GROUP BY id),
         |bands AS (SELECT id, simhash, band,
         |            (simhash >> (band * 12)) & 4095 AS bv
         |          FROM sims, (SELECT unnest(range(4)) AS band) bb),
         |cand AS (SELECT DISTINCT x.id AS a, x.simhash AS ha, y.id AS b, y.simhash AS hb
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bv = y.bv AND x.id < y.id)
         |SELECT a, b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY a, b""".stripMargin,

    "dedup_embcos" ->
      s"""WITH ${ivfKmeansCtes(8, 64)},
         |pairs AS (SELECT x.id AS a, y.id AS b,
         |    list_dot_product(ex.v, ey.v) /
         |      (sqrt(list_dot_product(ex.v, ex.v)) * sqrt(list_dot_product(ey.v, ey.v))) AS sim
         |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.id < y.id
         |  JOIN e ex ON ex.vec_id = x.id JOIN e ey ON ey.vec_id = y.id)
         |SELECT a, b, round(sim, 6) AS sim FROM pairs
         |WHERE sim >= 0.35 ORDER BY a, b""".stripMargin,

    // ---------- similarity search ----------
    // int8 scalar-quantized ANN: symmetric 127/max|x| scale, cosine on
    // the quantized ints (exact integer dots -> bit-identical doubles)
    "ann_int8" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |m AS (SELECT 127.0 / max(list_aggregate(
         |        list_transform(v, x -> abs(x)), 'max')) AS sc FROM e),
         |qz AS (SELECT vec_id, list_transform(v, x -> greatest(-127.0,
         |         least(127.0, floor(x * sc + 0.5)))) AS q8
         |       FROM e, m),
         |q AS (SELECT q8 AS qv FROM qz WHERE vec_id = 0),
         |scp AS (SELECT vec_id AS id,
         |          list_dot_product(q8, qv) /
         |            (sqrt(list_dot_product(q8, q8)) * sqrt(list_dot_product(qv, qv))) AS sim
         |        FROM qz, q WHERE vec_id <> 0)
         |SELECT CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rank,
         |       id, round(sim, 6) AS sim
         |FROM scp ORDER BY sim DESC, id LIMIT 10""".stripMargin,

    // two-stage ANN: int8 coarse top-100 -> fp32 exact rerank top-10
    "ann_rerank" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |m AS (SELECT 127.0 / max(list_aggregate(
         |        list_transform(v, x -> abs(x)), 'max')) AS sc FROM e),
         |qz AS (SELECT vec_id, list_transform(v, x -> greatest(-127.0,
         |         least(127.0, floor(x * sc + 0.5)))) AS q8
         |       FROM e, m),
         |q AS (SELECT q8 AS qv FROM qz WHERE vec_id = 0),
         |coarse AS (SELECT id AS cid FROM (
         |    SELECT vec_id AS id,
         |      list_dot_product(q8, qv) /
         |        (sqrt(list_dot_product(q8, q8)) * sqrt(list_dot_product(qv, qv))) AS sim
         |    FROM qz, q WHERE vec_id <> 0)
         |  ORDER BY sim DESC, id LIMIT 100),
         |qf AS (SELECT v AS qfv FROM e WHERE vec_id = 0),
         |rr AS (SELECT e.vec_id AS id,
         |         list_dot_product(e.v, qfv) /
         |           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qfv, qfv))) AS sim
         |       FROM e JOIN coarse ON coarse.cid = e.vec_id CROSS JOIN qf)
         |SELECT CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rank,
         |       id, round(sim, 6) AS sim
         |FROM rr ORDER BY sim DESC, id LIMIT 10""".stripMargin,

    // leading wildcard via reversed-token field: tokens ending in 'er'
    "ft_leading_wildcard" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE term LIKE '%er' ORDER BY doc_id""".stripMargin,

    // percolation: which saved queries match each document
    "percolate" ->
      s"""WITH $tokensCte
         |SELECT query_id, doc_id FROM (
         |  SELECT 'q_spark_window' AS query_id, d.doc_id FROM documents d
         |  WHERE ${boolDoc("spark")} AND ${boolDoc("window")}
         |  UNION ALL
         |  SELECT 'q_dup', d.doc_id FROM documents d
         |  WHERE ${boolDoc("dup")}
         |  UNION ALL
         |  SELECT 'q_merge_not_scan', d.doc_id FROM documents d
         |  WHERE ${boolDoc("merge")} AND NOT ${boolDoc("scan")})
         |ORDER BY query_id, doc_id""".stripMargin,

    // cursorMark paging on a field sort: page 2 strictly after the last
    // (n_chars, doc_id) of page 1
    "sort_cursor" ->
      s"""WITH p1 AS (SELECT doc_id, n_chars FROM documents
         |            ORDER BY n_chars DESC, doc_id LIMIT 10),
         |cur AS (SELECT n_chars AS cn, doc_id AS cd FROM p1
         |        ORDER BY n_chars, doc_id DESC LIMIT 1)
         |SELECT d.doc_id, d.n_chars FROM documents d, cur
         |WHERE d.n_chars < cur.cn
         |   OR (d.n_chars = cur.cn AND d.doc_id > cur.cd)
         |ORDER BY d.n_chars DESC, d.doc_id LIMIT 10""".stripMargin,

    // stats component: per-bucket population stddev/variance
    "stats_stddev" ->
      s"""SELECT l_returnflag, round(stddev_pop(l_quantity), 4) AS sd,
         |       round(var_pop(l_quantity), 4) AS variance
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    // facet over search results: lang counts of docs matching the query
    "ft_facet_lang" ->
      s"""WITH $tokensCte
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS cnt
         |FROM documents d
         |WHERE ${boolDoc("spark")} OR ${boolDoc("window")}
         |GROUP BY d.lang ORDER BY cnt DESC, lang""".stripMargin,

    // grouped search: top-2 scored docs per language
    "ft_group_lang" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id),
         |j AS (SELECT d.lang, a.doc_id, a.score
         |      FROM agg a JOIN documents d USING (doc_id)),
         |rk AS (SELECT lang, doc_id, CAST(row_number() OVER (
         |         PARTITION BY lang
         |         ORDER BY round(score, 9) DESC, doc_id) AS BIGINT) AS rk
         |       FROM j)
         |SELECT lang, rk, doc_id FROM rk WHERE rk <= 2
         |ORDER BY lang, rk""".stripMargin,

    // hybrid retrieval: RRF fusion of BM25 top-50 and cosine top-50
    "hybrid_rrf" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id),
         |bmr AS (SELECT doc_id, CAST(row_number() OVER (
         |          ORDER BY round(score, 9) DESC, doc_id) AS BIGINT) AS rt
         |        FROM agg ORDER BY round(score, 9) DESC, doc_id LIMIT 50),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qvv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |scp AS (SELECT vec_id AS doc_id,
         |          list_dot_product(v, qv) /
         |            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
         |        FROM e, qvv WHERE vec_id <> 0),
         |annr AS (SELECT doc_id, CAST(row_number() OVER (
         |           ORDER BY sim DESC, doc_id) AS BIGINT) AS rv
         |         FROM scp ORDER BY sim DESC, doc_id LIMIT 50),
         |u AS (SELECT coalesce(bmr.doc_id, annr.doc_id) AS doc_id,
         |             bmr.rt, annr.rv
         |      FROM bmr FULL OUTER JOIN annr ON bmr.doc_id = annr.doc_id)
         |SELECT doc_id,
         |       round(coalesce(1.0/(60+rt), 0.0) +
         |             coalesce(1.0/(60+rv), 0.0), 9) AS rrf
         |FROM u
         |ORDER BY round(coalesce(1.0/(60+rt), 0.0) +
         |               coalesce(1.0/(60+rv), 0.0), 9) DESC, doc_id
         |LIMIT 10""".stripMargin,

    "ann_cosine" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |scp AS (SELECT vec_id AS id,
         |          list_dot_product(v, qv) /
         |            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
         |        FROM e, q WHERE vec_id <> 0)
         |SELECT CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rank,
         |       id, round(sim, 6) AS sim
         |FROM scp ORDER BY sim DESC, id LIMIT 10""".stripMargin,

    "ann_knn" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
         |scp AS (SELECT q.qid, e.vec_id AS id,
         |          list_dot_product(v, qv) /
         |            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
         |        FROM e, q WHERE e.vec_id <> q.qid)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, id FROM (
         |  SELECT qid, id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, id) AS rank FROM scp)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // nprobe=1: the probed bucket is the query's own assigned cluster
    "ann_ivf" ->
      s"""WITH ${ivfKmeansCtes(8, 64)},
         |qc AS (SELECT cid AS qcid FROM asg WHERE id = 42),
         |bucket AS (SELECT a.id FROM asg a, qc WHERE a.cid = qc.qcid AND a.id <> 42),
         |qv AS (SELECT v AS qv FROM e WHERE vec_id = 42),
         |scp AS (SELECT b.id,
         |          list_dot_product(e.v, qv) /
         |            (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))) AS sim
         |        FROM bucket b JOIN e ON e.vec_id = b.id, qv)
         |SELECT CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rank, id
         |FROM scp ORDER BY sim DESC, id LIMIT 5""".stripMargin,

    // ---------- text analysis ----------
    "lang_id" ->
      s"""WITH $tokAllCte,
         |stop(slang, sterm) AS (VALUES $stopValues),
         |hits AS (SELECT t.doc_id AS id, s.slang, CAST(count(*) AS BIGINT) AS hits
         |         FROM tokall t JOIN stop s ON s.sterm = t.term GROUP BY 1, 2),
         |best AS (SELECT id, slang, hits FROM (
         |  SELECT id, slang, hits,
         |    row_number() OVER (PARTITION BY id ORDER BY hits DESC, slang) AS rn
         |  FROM hits) WHERE rn = 1)
         |SELECT d.doc_id AS id, coalesce(b.slang, 'und') AS pred_lang,
         |       CAST(coalesce(b.hits, 0) AS BIGINT) AS hits
         |FROM documents d LEFT JOIN best b ON b.id = d.doc_id
         |ORDER BY id""".stripMargin,

    "quality_score" ->
      s"""WITH $tokAllCte,
         |stop(slang, sterm) AS (VALUES $stopValues),
         |agg AS (SELECT t.doc_id AS id, count(*) AS n_tok,
         |          count(DISTINCT t.term) AS n_distinct,
         |          sum(CASE WHEN s.sterm IS NOT NULL THEN 1 ELSE 0 END) AS n_stop,
         |          sum(length(t.term)) AS sum_chars
         |        FROM tokall t
         |        LEFT JOIN stop s ON s.slang = t.lang AND s.sterm = t.term
         |        GROUP BY 1)
         |SELECT id, round(
         |    0.3 * least(n_tok / 100.0, 1.0)
         |  + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tok)
         |  + 0.2 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
         |  + 0.2 * least(CAST(sum_chars AS DOUBLE) / n_tok / 8.0, 1.0), 6) AS quality
         |FROM agg ORDER BY id""".stripMargin,

    "token_counts" ->
      s"""SELECT doc_id AS id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$TokRe')) AS BIGINT) AS analyzer_tokens,
         |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est
         |FROM documents ORDER BY id""".stripMargin,

    "fingerprint" ->
      s"""WITH $tokAllCte,
         |d AS (SELECT DISTINCT doc_id AS id, term FROM tokall)
         |SELECT id, md5(string_agg(term, ' ' ORDER BY term)) AS fp
         |FROM d GROUP BY id ORDER BY id""".stripMargin,

    "fingerprint_winnow" ->
      s"""WITH $tokAllCte,
         |kg AS (SELECT a.doc_id AS id, a.pos AS pos,
         |         ('0x' || substr(md5(a.term || ' ' || b.term || ' ' || c.term), 1, 15))::BIGINT AS h
         |       FROM tokall a
         |       JOIN tokall b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |       JOIN tokall c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
         |nsh AS (SELECT id, count(*) AS nsh FROM kg GROUP BY id),
         |wm AS (SELECT id, pos, min(h) OVER (PARTITION BY id ORDER BY pos
         |         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
         |       FROM kg),
         |sel AS (SELECT DISTINCT wm.id, wm.wmin FROM wm
         |        JOIN nsh ON nsh.id = wm.id WHERE wm.pos <= nsh.nsh - 4)
         |SELECT d.doc_id AS id, CAST(coalesce(s.cnt, 0) AS BIGINT) AS n_fp,
         |       coalesce(s.fp, '') AS fp
         |FROM documents d LEFT JOIN (
         |  SELECT id, count(*) AS cnt,
         |         md5(string_agg(wmin::VARCHAR, ',' ORDER BY wmin)) AS fp
         |  FROM sel GROUP BY id) s ON s.id = d.doc_id
         |ORDER BY id""".stripMargin,

    "multimodal_meta" ->
      s"""SELECT doc_id AS id,
         |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         |  CAST(length(text) AS BIGINT) AS byte_len,
         |  CAST(64 + length(text) % 577 AS BIGINT) AS width,
         |  CAST(64 + ascii(substr(text, 1, 1)) AS BIGINT) AS height,
         |  CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS BIGINT) AS channels,
         |  CAST(CASE WHEN doc_id % 3 = 2 THEN length(text) // 100 + 1 ELSE 1 END AS BIGINT) AS n_frames,
         |  CAST(((64 + length(text) % 577) * (64 + ascii(substr(text, 1, 1))) + 255) // 256
         |       * (CASE WHEN doc_id % 3 = 2 THEN length(text) // 100 + 1 ELSE 1 END) AS BIGINT) AS n_patches
         |FROM documents ORDER BY id""".stripMargin,

    "multimodal_frames" ->
      s"""WITH m AS (
         |  SELECT doc_id AS id,
         |    CASE WHEN doc_id % 3 = 2 THEN length(text) // 100 + 1 ELSE 1 END AS n_frames
         |  FROM documents)
         |SELECT id, CAST(n_frames AS BIGINT) AS n_frames,
         |  CAST(len(range(0, n_frames, 10)) AS BIGINT) AS n_sampled,
         |  array_to_string(range(0, n_frames, 10), ',') AS frame_idx_csv
         |FROM m ORDER BY id""".stripMargin,

    // multimodal feature-extract -> ANN: byte-class histogram of the
    // UTF-8 payload (remove-patterns shared with the engine), cosine
    "multimodal_ann" -> {
      val cols = graft.operators.Multimodal.HistRemovePatterns
        .map(p => s"CAST(length(regexp_replace(text, '$p', '', 'g')) AS DOUBLE)")
        .mkString("[", ", ", "]")
      s"""WITH h AS (SELECT doc_id AS id, $cols AS v FROM documents),
         |q AS (SELECT v AS qv FROM h WHERE id = 0),
         |scp AS (SELECT id,
         |          list_dot_product(v, qv) /
         |            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
         |        FROM h, q WHERE id <> 0)
         |SELECT CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rank,
         |       id, round(sim, 6) AS sim
         |FROM scp ORDER BY sim DESC, id LIMIT 10""".stripMargin
    },

    // ---------- spatial ----------
    "geo_filt" ->
      s"""WITH $geoPtsCte
         |SELECT c_custkey FROM pts
         |WHERE ${geoDistKm(48.85, 2.35)} <= 800.0
         |ORDER BY c_custkey""".stripMargin,

    "geo_bbox" ->
      s"""WITH $geoPtsCte
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt FROM pts
         |WHERE lat >= 30.0 AND lat <= 50.0 AND lon >= -20.0 AND lon <= 40.0
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "geo_nearest" ->
      s"""WITH $geoPtsCte,
         |d AS (SELECT c_custkey, ${geoDistKm(40.71, -74.0)} AS dkm FROM pts)
         |SELECT CAST(row_number() OVER (
         |    ORDER BY round(dkm, 9), c_custkey) AS BIGINT) AS rank, c_custkey
         |FROM d ORDER BY round(dkm, 9), c_custkey LIMIT 20""".stripMargin,

    "geo_heatmap" ->
      s"""WITH $geoPtsCte
         |SELECT CAST(least(7, floor((lat - 40.0) / 2.0)) AS BIGINT) AS cell_row,
         |       CAST(least(7, floor((lon - -10.0) / 4.0)) AS BIGINT) AS cell_col,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM pts
         |WHERE lat >= 40.0 AND lat <= 56.0 AND lon >= -10.0 AND lon <= 22.0
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // ---------- /export (full sorted result set) ----------
    "export_sorted" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |m AS (SELECT DISTINCT doc_id FROM tokens WHERE term = 'merge')
         |SELECT m.doc_id, dl.dl FROM m JOIN dl USING (doc_id)
         |ORDER BY dl.dl DESC, m.doc_id""".stripMargin,

    // ---------- MLT interestingTerms ----------
    "mlt_interesting" ->
      s"""WITH $tokensCte,
         |d0 AS (SELECT term, count(*) AS tf FROM tokens WHERE doc_id = 0 GROUP BY term),
         |alldf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term)
         |SELECT d0.term AS term, CAST(d0.tf AS BIGINT) AS tf,
         |       CAST(alldf.df AS BIGINT) AS df
         |FROM d0 JOIN alldf USING (term) WHERE alldf.df >= 2
         |ORDER BY d0.tf DESC, alldf.df ASC, d0.term LIMIT 5""".stripMargin,

    // ---------- fuzzy suggester ----------
    "ft_suggest_fuzzy" ->
      s"""WITH $tokensCte,
         |d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |      FROM tokens GROUP BY term)
         |SELECT term, df FROM d
         |WHERE levenshtein(substr(term, 1, 5), 'strem') <= 1
         |ORDER BY df DESC, term LIMIT 8""".stripMargin,

    // ---------- index-free percolation (MemoryIndex path) ----------
    "percolate_memory" ->
      s"""WITH $tokensCte,
         |m1 AS (SELECT 'q_spark_window' AS query_id, d.doc_id
         |       FROM documents d
         |       WHERE ${boolDoc("spark")} AND ${boolDoc("window")}),
         |m2 AS (SELECT DISTINCT 'q_phrase_stream_table' AS query_id, a.doc_id
         |       FROM tokens a
         |       JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |         AND b.term = 'table'
         |       WHERE a.term = 'stream'),
         |m3 AS (SELECT 'q_prefix_sca' AS query_id, d.doc_id FROM documents d
         |       WHERE EXISTS(SELECT 1 FROM tokens t
         |                    WHERE t.doc_id = d.doc_id AND t.term LIKE 'sca%'))
         |SELECT query_id, doc_id FROM (
         |  SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3)
         |ORDER BY query_id, doc_id""".stripMargin,

    // ---------- relevance function queries (termfreq/docfreq/idf) ----------
    "func_relevance" ->
      s"""WITH $tokensCte,
         |tfq AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
         |        FROM tokens WHERE term = 'spark' GROUP BY doc_id),
         |st AS (SELECT
         |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM tokens
         |   WHERE term = 'spark') AS df,
         |  (SELECT count(*) FROM documents) AS n)
         |SELECT t.doc_id, t.tf, st.df,
         |  round(ln(CAST(st.n AS DOUBLE) / (CAST(st.df AS DOUBLE) + 1.0)) + 1.0,
         |        6) AS idf
         |FROM tfq t CROSS JOIN st ORDER BY doc_id""".stripMargin,

    // ---------- phrase highlighting ----------
    // Phrase score mirrors the engine's phraseHits: idf = sum of member
    // term idfs (dfq from bm25ClauseCte = full collection df per term),
    // tf = aligned phrase starts.
    "ft_highlight_phrase" ->
      s"""${bm25With("('stream'),('table')")},
         |phtf AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS ptf
         |         FROM tokens a
         |         JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |           AND b.term = 'table'
         |         WHERE a.term = 'stream' GROUP BY a.doc_id),
         |pidf AS (SELECT sum(ln(1 + (cs.n - df + 0.5) / (df + 0.5))) AS v
         |         FROM dfq, cs),
         |phs AS (SELECT p.doc_id,
         |          (SELECT v FROM pidf) * 2.2 * p.ptf /
         |          (p.ptf + 1.2 * (0.25 + 0.75 * nrm.qdl /
         |             (CAST(cs.sumdl AS DOUBLE) / cs.n))) AS s
         |        FROM phtf p JOIN dl ON dl.doc_id = p.doc_id
         |        JOIN nrm ON dl.dl BETWEEN nrm.lo AND nrm.hi
         |        CROSS JOIN cs),
         |top3 AS (SELECT doc_id FROM phs
         |         ORDER BY round(s, 9) DESC, doc_id LIMIT 3)
         |SELECT d.doc_id,
         |  substr(d.text,
         |    CAST(greatest(1, strpos(lower(d.text), 'stream table') - 15) AS BIGINT),
         |    60) AS snippet
         |FROM documents d JOIN top3 t ON t.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // ---------- MultiPhraseQuery ----------
    // Engine blends idf over ALL member terms (stream, spark, table);
    // freq counts starts where slot 0 has (stream|spark) and slot 1 has
    // table at the next position.
    "ft_multiphrase" ->
      s"""${bm25With("('stream'),('spark'),('table')")},
         |phtf AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS ptf
         |         FROM tokens a
         |         JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |           AND b.term = 'table'
         |         WHERE a.term IN ('stream','spark') GROUP BY a.doc_id),
         |pidf AS (SELECT sum(ln(1 + (cs.n - df + 0.5) / (df + 0.5))) AS v
         |         FROM dfq, cs),
         |agg AS (SELECT p.doc_id,
         |          (SELECT v FROM pidf) * 2.2 * p.ptf /
         |          (p.ptf + 1.2 * (0.25 + 0.75 * nrm.qdl /
         |             (CAST(cs.sumdl AS DOUBLE) / cs.n))) AS score
         |        FROM phtf p JOIN dl ON dl.doc_id = p.doc_id
         |        JOIN nrm ON dl.dl BETWEEN nrm.lo AND nrm.hi
         |        CROSS JOIN cs)
         |${rankSel(15)}""".stripMargin,

    // TermAutomatonQuery "stream table hash"|"stream hash": freq = long
    // path occurrences + short path occurrences (distinct accepting
    // entries), idf blended over the whole alphabet
    "ft_term_automaton" ->
      s"""${bm25With("('stream'),('table'),('hash')")},
         |m1 AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS c
         |       FROM tokens a
         |       JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |         AND b.term = 'table'
         |       JOIN tokens c2 ON c2.doc_id = a.doc_id AND c2.pos = a.pos + 2
         |         AND c2.term = 'hash'
         |       WHERE a.term = 'stream' GROUP BY a.doc_id),
         |m2 AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS c
         |       FROM tokens a
         |       JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |         AND b.term = 'hash'
         |       WHERE a.term = 'stream' GROUP BY a.doc_id),
         |wf AS (SELECT doc_id, sum(c) AS f FROM
         |         (SELECT * FROM m1 UNION ALL SELECT * FROM m2)
         |       GROUP BY doc_id),
         |pidf AS (SELECT sum(ln(1 + (cs.n - df + 0.5) / (df + 0.5))) AS v
         |         FROM dfq, cs),
         |agg AS (SELECT w2.doc_id,
         |          (SELECT v FROM pidf) * 2.2 * w2.f /
         |          (w2.f + 1.2 * (0.25 + 0.75 * nrm.qdl /
         |             (CAST(cs.sumdl AS DOUBLE) / cs.n))) AS score
         |        FROM wf w2 JOIN dl ON dl.doc_id = w2.doc_id
         |        JOIN nrm ON dl.dl BETWEEN nrm.lo AND nrm.hi
         |        CROSS JOIN cs)
         |${rankSel(10)}""".stripMargin,

    // complexphrase "s* table": the wildcard slot re-derived as the
    // DISTINCT dictionary terms with the prefix, blended idf over
    // slot-terms + 'table', adjacency alignment count as phrase tf
    "ft_complexphrase" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (SELECT DISTINCT term FROM tokens WHERE term LIKE 's%'
         |             UNION SELECT 'table'),
         |$bm25ClauseCte,
         |phtf AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS ptf
         |         FROM tokens a
         |         JOIN tokens b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |           AND b.term = 'table'
         |         WHERE a.term LIKE 's%' GROUP BY a.doc_id),
         |pidf AS (SELECT sum(ln(1 + (cs.n - df + 0.5) / (df + 0.5))) AS v
         |         FROM dfq, cs),
         |agg AS (SELECT p.doc_id,
         |          (SELECT v FROM pidf) * 2.2 * p.ptf /
         |          (p.ptf + 1.2 * (0.25 + 0.75 * nrm.qdl /
         |             (CAST(cs.sumdl AS DOUBLE) / cs.n))) AS score
         |        FROM phtf p JOIN dl ON dl.doc_id = p.doc_id
         |        JOIN nrm ON dl.dl BETWEEN nrm.lo AND nrm.hi
         |        CROSS JOIN cs)
         |${rankSel(15)}""".stripMargin,

    // ---------- composite search handler (q + fq + paging + hl) ----------
    "search_handler" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |agg AS (SELECT sc.doc_id, sum(sc.s) AS score FROM sc
         |        JOIN documents d ON d.doc_id = sc.doc_id AND d.lang = 'en'
         |        GROUP BY sc.doc_id),
         |rk AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS rn
         |       FROM agg)
         |SELECT CAST(rk.rn AS BIGINT) AS rank, rk.doc_id,
         |  substr(d.text,
         |    CAST(greatest(1, strpos(lower(d.text), 'spark') - 10) AS BIGINT),
         |    40) AS snippet
         |FROM rk JOIN documents d ON d.doc_id = rk.doc_id
         |WHERE rk.rn BETWEEN 6 AND 10 ORDER BY rank""".stripMargin,

    // ---------- Luke per-field info ----------
    // content = analyzed tokens; path = one keyword token per doc
    // (zero-padded doc_id, the docsAsInput path).
    "index_fieldinfo" ->
      s"""WITH $tokensCte,
         |ct AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |         CAST(count(*) AS BIGINT) AS ttf FROM tokens GROUP BY term),
         |pt AS (SELECT lpad(CAST(doc_id AS VARCHAR), 9, '0') AS term,
         |         CAST(1 AS BIGINT) AS df, CAST(1 AS BIGINT) AS ttf
         |       FROM documents)
         |SELECT * FROM (
         |  SELECT 'content' AS field, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(ttf) AS BIGINT) AS sum_ttf, CAST(max(df) AS BIGINT) AS max_df
         |  FROM ct
         |  UNION ALL
         |  SELECT 'path', CAST(count(*) AS BIGINT), CAST(sum(ttf) AS BIGINT),
         |    CAST(max(df) AS BIGINT) FROM pt)
         |ORDER BY field""".stripMargin,

    // ---------- HighFreqTerms (lucene/misc) ----------
    "high_freq_terms" ->
      s"""WITH $tokensCte
         |SELECT term, CAST(count(*) AS BIGINT) AS ttf,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |FROM tokens GROUP BY term ORDER BY ttf DESC, term LIMIT 10""".stripMargin,

    // ---------- BoostingQuery (demote-by-context) ----------
    "ft_boosting_demote" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |ctx AS (SELECT DISTINCT doc_id FROM tokens WHERE term = 'slow'),
         |agg AS (SELECT sc.doc_id,
         |          sum(sc.s) * (CASE WHEN ctx.doc_id IS NOT NULL
         |                            THEN 0.5 ELSE 1.0 END) AS score
         |        FROM sc LEFT JOIN ctx ON ctx.doc_id = sc.doc_id
         |        GROUP BY sc.doc_id, ctx.doc_id)
         |${rankSel(10)}""".stripMargin,

    // ---------- SpanWithinQuery ----------
    // big = greedy minimal-end ordered (merge..batch) spans, width - 2
    // <= 5; freq = distinct 'part' positions inside any span; idf from
    // 'part' (the little side drives SpanWithinQuery).
    "ft_span_within" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |big AS (SELECT a.doc_id, a.pos AS s, min(b.pos) AS e
         |        FROM tokens a JOIN tokens b ON b.doc_id = a.doc_id
         |          AND b.pos > a.pos AND b.term = 'batch'
         |        WHERE a.term = 'merge' GROUP BY a.doc_id, a.pos
         |        HAVING (min(b.pos) - a.pos + 1) - 2 <= 5),
         |wf AS (SELECT l.doc_id, CAST(count(DISTINCT l.pos) AS BIGINT) AS f
         |       FROM tokens l JOIN big g ON g.doc_id = l.doc_id
         |         AND l.pos BETWEEN g.s AND g.e
         |       WHERE l.term = 'part' GROUP BY l.doc_id),
         |ldf AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |        FROM tokens WHERE term = 'part'),
         |agg AS (SELECT w2.doc_id,
         |          ln(1 + (cs.n - ldf.df + 0.5) / (ldf.df + 0.5)) * 2.2 * w2.f /
         |          (w2.f + 1.2 * (0.25 + 0.75 * nrm.qdl /
         |             (CAST(cs.sumdl AS DOUBLE) / cs.n))) AS score
         |        FROM wf w2 JOIN dl ON dl.doc_id = w2.doc_id
         |        JOIN nrm ON dl.dl BETWEEN nrm.lo AND nrm.hi
         |        CROSS JOIN cs CROSS JOIN ldf)
         |${rankSel(10)}""".stripMargin,

    // ---------- SpanContainingQuery ----------
    "ft_span_containing" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |big AS (SELECT a.doc_id, a.pos AS s, min(b.pos) AS e
         |        FROM tokens a JOIN tokens b ON b.doc_id = a.doc_id
         |          AND b.pos > a.pos AND b.term = 'batch'
         |        WHERE a.term = 'merge' GROUP BY a.doc_id, a.pos
         |        HAVING (min(b.pos) - a.pos + 1) - 2 <= 5),
         |cf AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS f FROM big g
         |       WHERE EXISTS(SELECT 1 FROM tokens l WHERE l.doc_id = g.doc_id
         |                    AND l.term = 'part' AND l.pos BETWEEN g.s AND g.e)
         |       GROUP BY g.doc_id),
         |bdf AS (SELECT sum(ln(1 + (cs.n - df + 0.5) / (df + 0.5))) AS v FROM (
         |          SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |          FROM tokens WHERE term = 'merge'
         |          UNION ALL
         |          SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
         |          FROM tokens WHERE term = 'batch') d, cs),
         |agg AS (SELECT c2.doc_id,
         |          (SELECT v FROM bdf) * 2.2 * c2.f /
         |          (c2.f + 1.2 * (0.25 + 0.75 * nrm.qdl /
         |             (CAST(cs.sumdl AS DOUBLE) / cs.n))) AS score
         |        FROM cf c2 JOIN dl ON dl.doc_id = c2.doc_id
         |        JOIN nrm ON dl.dl BETWEEN nrm.lo AND nrm.hi CROSS JOIN cs)
         |${rankSel(10)}""".stripMargin,

    // ---------- surround parser (distance operator) ----------
    // `stream 2w table`: ordered span, width - 2 <= slop(1)
    "ft_surround" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT a.doc_id FROM tokens a
         |JOIN tokens b ON b.doc_id = a.doc_id AND b.pos > a.pos
         |  AND (b.pos - a.pos + 1) - 2 <= 1
         |WHERE a.term = 'stream' AND b.term = 'table' ORDER BY 1""".stripMargin,

    // ---------- {!boost} multiplicative function boost ----------
    "ft_boost_mult" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('window')),
         |$bm25ClauseCte,
         |agg AS (SELECT sc.doc_id,
         |          sum(sc.s) * ln(1.0 + any_value(d.n_chars)) AS score
         |        FROM sc JOIN documents d ON d.doc_id = sc.doc_id
         |        GROUP BY sc.doc_id)
         |${rankSel(10)}""".stripMargin,

    // ---------- Naive Bayes classification ----------
    // Multinomial NB, add-one smoothing over (class token total + vocab),
    // resubstitution on the corpus; argmax at 6 decimals (cross-engine
    // double-sum associativity ~1e-12, class gaps >> 1e-6), ties -> lang.
    // BooleanPerceptronClassifier: the full sequential training trajectory
    // re-derived in SQL — a recursive CTE carries the weights MAP, one
    // recursion step per training doc in doc_id order (weights init =
    // totalTermFreq, threshold = sumDocFreq/2, misclassification adds
    // modifier*inDocFreq to every doc term, snapshot-per-step = batchSize 1)
    "classify_perceptron" ->
      s"""WITH RECURSIVE $tokensCte,
         |base AS (SELECT doc_id, lang FROM documents
         |         WHERE lang IN ('en', 'de')),
         |train AS (SELECT doc_id, (lang = 'en') AS cls,
         |                 row_number() OVER (ORDER BY doc_id) - 1 AS step
         |          FROM base WHERE doc_id % 7 = 3
         |          ORDER BY doc_id LIMIT 40),
         |ttok AS (SELECT t.step, k.term, count(*) AS f
         |         FROM train t JOIN tokens k USING (doc_id) GROUP BY 1, 2),
         |dmap AS (SELECT t.step, any_value(t.cls) AS cls,
         |                coalesce(map_from_entries(array_agg(
         |                  struct_pack(k := k.term, v := k.f) ORDER BY k.term)
         |                  FILTER (k.term IS NOT NULL)), MAP([],[])) AS dm
         |         FROM train t LEFT JOIN ttok k ON k.step = t.step
         |         GROUP BY t.step),
         |w0 AS (SELECT map_from_entries(array_agg(
         |          struct_pack(k := term, v := tot) ORDER BY term)) AS m
         |       FROM (SELECT term, sum(f) AS tot FROM ttok GROUP BY term)),
         |thr AS (SELECT count(*) / 2.0 AS thr FROM ttok),
         |st(i, m) AS (
         |  SELECT 0, (SELECT m FROM w0)
         |  UNION ALL
         |  SELECT s.i + 1,
         |    CASE WHEN s.md = 0 THEN s.m
         |         ELSE map_from_entries(list_transform(map_entries(s.m),
         |           e -> struct_pack(k := e.key, v := e.value +
         |             s.md * coalesce(element_at(s.dm, e.key)[1], 0))))
         |    END
         |  FROM (
         |    SELECT st.i, st.m, d.dm,
         |      (CASE WHEN d.cls THEN 1 ELSE 0 END) -
         |      (CASE WHEN list_sum(list_transform(map_entries(d.dm),
         |         e -> e.value * coalesce(element_at(st.m, e.key)[1], 0)))
         |         >= (SELECT thr FROM thr) THEN 1 ELSE 0 END) AS md
         |    FROM st JOIN dmap d ON d.step = st.i
         |  ) s
         |),
         |fin AS (SELECT m FROM st ORDER BY i DESC LIMIT 1),
         |itok AS (SELECT b.doc_id, k.term, count(*) AS f
         |         FROM base b JOIN tokens k USING (doc_id)
         |         WHERE b.doc_id % 13 = 2 GROUP BY 1, 2),
         |sc AS (SELECT doc_id, CAST(coalesce(sum(f * coalesce(
         |           element_at((SELECT m FROM fin), term)[1], 0)), 0)
         |         AS BIGINT) AS score
         |       FROM itok GROUP BY doc_id)
         |SELECT b.doc_id,
         |       coalesce(s.score, 0) >= (SELECT thr FROM thr) AS assigned,
         |       coalesce(s.score, 0) AS score
         |FROM (SELECT doc_id FROM base WHERE doc_id % 13 = 2
         |      ORDER BY doc_id LIMIT 40) b
         |LEFT JOIN sc s USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,

    "classify_nb" ->
      s"""WITH $tokensCte,
         |cls AS (SELECT lang AS c, count(*) AS nc FROM documents GROUP BY lang),
         |nn AS (SELECT count(*) AS n FROM documents),
         |tl AS (SELECT d.lang AS c, t.term, CAST(count(*) AS BIGINT) AS ctf
         |       FROM tokens t JOIN documents d ON d.doc_id = t.doc_id
         |       GROUP BY 1, 2),
         |tc AS (SELECT c, sum(ctf) AS tot FROM tl GROUP BY c),
         |vv AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM tokens),
         |dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tfd
         |       FROM tokens GROUP BY 1, 2),
         |ll AS (SELECT g.doc_id, g.c,
         |         sum(g.tfd * ln((coalesce(tl.ctf, 0) + 1.0) /
         |                        (CAST(tc.tot AS DOUBLE) + vv.v))) AS ll
         |       FROM (SELECT dt.*, cls.c FROM dt CROSS JOIN cls) g
         |       LEFT JOIN tl ON tl.c = g.c AND tl.term = g.term
         |       JOIN tc ON tc.c = g.c CROSS JOIN vv
         |       GROUP BY 1, 2),
         |sc2 AS (SELECT l.doc_id, l.c,
         |          l.ll + ln(CAST(cls.nc AS DOUBLE) / nn.n) AS score
         |        FROM ll l JOIN cls ON cls.c = l.c CROSS JOIN nn)
         |SELECT doc_id, c AS pred FROM (
         |  SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY round(score, 6) DESC, c) AS rn FROM sc2)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // ---------- k-NN classification ----------
    // Same term selection as ft_mlt but seeded from doc 42; prediction =
    // majority lang of the 10 BM25-nearest neighbors.
    "classify_knn" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |d0 AS (SELECT term, count(*) AS tf FROM tokens WHERE doc_id = 42 GROUP BY term),
         |alldf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
         |q AS (SELECT d0.term AS qterm FROM d0 JOIN alldf USING (term)
         |      WHERE alldf.df >= 2
         |      ORDER BY d0.tf DESC, alldf.df ASC, d0.term LIMIT 5),
         |$bm25ClauseCte,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc
         |        WHERE doc_id <> 42 GROUP BY doc_id),
         |nb AS (SELECT doc_id FROM agg
         |       ORDER BY round(score, 9) DESC, doc_id LIMIT 10)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS votes
         |FROM nb JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY votes DESC, d.lang""".stripMargin,

    // ---------- FreeTextSuggester (bigram LM completion) ----------
    "suggest_freetext" ->
      s"""WITH $tokensCte,
         |big AS (SELECT b.term, CAST(count(*) AS BIGINT) AS freq
         |        FROM tokens a JOIN tokens b
         |          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |        WHERE a.term = 'spark' AND b.term LIKE 'w%'
         |        GROUP BY b.term)
         |SELECT term, freq FROM big ORDER BY freq DESC, term LIMIT 5""".stripMargin,

    // ---------- AnalyzingSuggester (analyzed-key prefix completion) ----
    // akey = stop-dropped tokens joined by US (chr 31); lookup 'the que'
    // analyzes to 'que'; exact-analyzed matches first, then weight desc
    "suggest_analyzing" ->
      s"""WITH p AS (SELECT split_part(text, ' ', 1) || ' ' ||
         |                  split_part(text, ' ', 2) AS surface,
         |                  CAST(count(*) AS BIGINT) AS weight
         |           FROM documents GROUP BY 1),
         |d AS (SELECT surface, weight,
         |             array_to_string(list_filter(string_split(surface, ' '),
         |               x -> x NOT IN ('the', 'a', 'of', 'to', 'and')),
         |               chr(31)) AS akey
         |      FROM p)
         |SELECT surface, weight FROM d WHERE akey LIKE 'que%'
         |ORDER BY (akey = 'que') DESC, weight DESC, akey, surface
         |LIMIT 5""".stripMargin,

    // ---------- WFSTCompletionLookup (surface-prefix completion) -------
    "suggest_wfst" ->
      s"""WITH d AS (SELECT split_part(text, ' ', 1) AS surface,
         |                  CAST(count(*) AS BIGINT) AS weight
         |           FROM documents GROUP BY 1)
         |SELECT surface, weight FROM d WHERE surface LIKE 's%'
         |ORDER BY (surface = 's') DESC, weight DESC, surface LIMIT 5""".stripMargin,

    // ---------- BlendedInfixSuggester (position-blended weights) -------
    // candidates = top n*numFactor (100) by raw weight, then score =
    // trunc(weight * 1/(1+first-match-pos)); startsWith keeps coef 1
    "suggest_blended" ->
      s"""WITH p AS (SELECT split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2,
         |                  split_part(text, ' ', 3) AS w3,
         |                  CAST(count(*) AS BIGINT) AS weight
         |           FROM documents GROUP BY 1, 2, 3),
         |m AS (SELECT w1 || ' ' || w2 || ' ' || w3 AS surface, weight,
         |             CASE WHEN w1 LIKE 'query%' THEN 0
         |                  WHEN w2 LIKE 'query%' THEN 1
         |                  WHEN w3 LIKE 'query%' THEN 2 END AS pos
         |      FROM p
         |      WHERE w1 LIKE 'query%' OR w2 LIKE 'query%' OR w3 LIKE 'query%'),
         |cand AS (SELECT * FROM m ORDER BY weight DESC, surface LIMIT 100),
         |b AS (SELECT surface,
         |             CAST(trunc(weight * (CASE WHEN surface LIKE 'query%'
         |                                       THEN 1.0
         |                                       ELSE 1.0 / (1 + pos) END))
         |                  AS BIGINT) AS score
         |      FROM cand)
         |SELECT surface, score FROM b ORDER BY score DESC, surface
         |LIMIT 10""".stripMargin,

    // ---------- WordBreakSpellChecker: breaks ----------
    "spellcheck_wordbreak" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |cand AS (SELECT substr('sparkwindow', 1, CAST(i AS INT)) AS left_part,
         |                substr('sparkwindow', CAST(i + 1 AS INT)) AS right_part
         |         FROM UNNEST(generate_series(1, 10)) AS t(i))
         |SELECT c.left_part, c.right_part, dl.df + dr.df AS freq
         |FROM cand c JOIN dict dl ON dl.term = c.left_part
         |JOIN dict dr ON dr.term = c.right_part
         |ORDER BY freq DESC, left_part""".stripMargin,

    // ---------- WordBreakSpellChecker: combinations ----------
    "spellcheck_wordcombine" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |qt(i, w) AS (VALUES (1, 'win'), (2, 'dow'), (3, 'table')),
         |comb AS (SELECT a.w || b.w AS combined FROM qt a JOIN qt b ON b.i = a.i + 1)
         |SELECT c.combined, d.df FROM comb c JOIN dict d ON d.term = c.combined
         |ORDER BY c.combined""".stripMargin,

    // ---------- group.ngroups ----------
    "group_ngroups" ->
      s"""WITH $tokensCte,
         |m AS (SELECT DISTINCT doc_id FROM tokens WHERE term = 'merge')
         |SELECT CAST(count(DISTINCT d.lang) AS BIGINT) AS n_groups,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM m JOIN documents d USING (doc_id)""".stripMargin,

    // ---------- payload scoring ----------
    "ft_payload" ->
      s"""WITH $tokensCte,
         |pay AS (SELECT doc_id,
         |          avg(CASE WHEN pos < 20 THEN CAST(2.0 AS DOUBLE)
         |              ELSE CAST(1.0 AS DOUBLE) END) AS pay
         |        FROM tokens WHERE term = 'spark' GROUP BY doc_id)
         |SELECT CAST(row_number() OVER (
         |    ORDER BY round(pay, 9) DESC, doc_id) AS BIGINT) AS rank, doc_id
         |FROM pay ORDER BY round(pay, 9) DESC, doc_id LIMIT 10""".stripMargin,

    // ---------- clustering component ----------
    "cluster_docs" ->
      s"""WITH ${ivfKmeansCtes(8, 64)}
         |SELECT CAST(cid AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS cnt
         |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin,

    // HLL cardinality: full register-level re-derivation of the engine's
    // deterministic md5-based HyperLogLog (p=12): idx = top 12 of the
    // 60-bit hash, rho = rank of first 1-bit in the low 48 (exact msb via
    // a powers-of-two join, not floating log2), register sum as the exact
    // BIGINT sum of 2^(49-rho), then the same raw / linear-counting
    // estimate arithmetic in the engine's operation order.
    "stats_cardinality" ->
      s"""WITH pow(k, v) AS (SELECT k, CAST(power(2, k) AS BIGINT) FROM range(50) t(k)),
         |hx AS (SELECT o_orderpriority AS g,
         |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |       FROM orders),
         |hw AS (SELECT g, h // ${1L << 48} AS idx, h % ${1L << 48} AS w FROM hx),
         |rho AS (SELECT g, idx,
         |          CASE WHEN w = 0 THEN 49 ELSE 48 - max(p.k) END AS rho
         |        FROM hw LEFT JOIN pow p ON p.v <= hw.w
         |        GROUP BY g, idx, w),
         |reg AS (SELECT g, idx, max(rho) AS r FROM rho GROUP BY g, idx),
         |agg AS (SELECT reg.g,
         |          CAST(sum(p2.v) + (4096 - count(*)) * ${1L << 49} AS BIGINT) AS sumint,
         |          4096 - count(*) AS zeros
         |        FROM reg JOIN pow p2 ON p2.k = 49 - reg.r
         |        GROUP BY reg.g)
         |SELECT g AS o_orderpriority,
         |  CASE WHEN (${graft.operators.Stats.AlphaMM} * 562949953421312.0 / sumint) <= 10240.0
         |            AND zeros > 0
         |       THEN CAST(round(4096 * ln(4096.0 / zeros)) AS BIGINT)
         |       ELSE CAST(round(${graft.operators.Stats.AlphaMM} * 562949953421312.0 / sumint) AS BIGINT)
         |  END AS card_est
         |FROM agg ORDER BY 1""".stripMargin,

    "group_facet" ->
      s"""SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS ngroups
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "facet_missing" ->
      s"""WITH best AS (SELECT o_custkey, max(o_totalprice) AS mx FROM orders
         |              WHERE o_orderstatus = 'P' GROUP BY 1)
         |SELECT CASE WHEN b.mx IS NULL THEN '__missing__'
         |            ELSE 'b' || CAST(CAST(floor(b.mx / 100000) AS BIGINT) AS VARCHAR)
         |       END AS bucket, CAST(count(*) AS BIGINT) AS cnt
         |FROM customer c LEFT JOIN best b ON b.o_custkey = c.c_custkey
         |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "facet_offset" ->
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
         |FROM orders GROUP BY 1
         |ORDER BY cnt DESC, o_orderpriority LIMIT 3 OFFSET 1""".stripMargin,

    // StringDistance family over corpus word pairs: DuckDB's levenshtein /
    // damerau_levenshtein / jaro_winkler_similarity as the independent
    // re-derivations (the corpus vocabulary stays inside the regime where
    // the reference's uncapped-prefix JW quirk coincides with standard JW)
    "spellcheck_distances" ->
      s"""WITH p AS (SELECT DISTINCT split_part(text, ' ', 1) AS s,
         |                           split_part(text, ' ', 2) AS t
         |            FROM documents WHERE lang = 'en')
         |SELECT s, t, CAST(levenshtein(s, t) AS BIGINT) AS lev,
         |       round(jaro_winkler_similarity(s, t), 3) AS jw
         |FROM p ORDER BY s, t""".stripMargin,

    // Solr function queries: recip/linear/scale/map re-derived; scale's
    // min/max over the corpus as a scalar subquery
    "func_query" ->
      s"""WITH mm AS (SELECT CAST(min(n_chars) AS DOUBLE) AS lo,
         |                   CAST(max(n_chars) AS DOUBLE) AS hi FROM documents)
         |SELECT doc_id,
         |  round(100000.0 / (1.0 * (2.0 * n_chars + 0.0) + 1000.0), 6) AS r,
         |  round((n_chars - lo) * (100.0 - 0.0) / (hi - lo) + 0.0, 6) AS s,
         |  round(CASE WHEN n_chars >= 0 AND n_chars <= 300 THEN 0.0
         |             ELSE CAST(n_chars AS DOUBLE) END, 6) AS m
         |FROM documents, mm ORDER BY doc_id""".stripMargin,

    // JS expression sort: sqrt + modulo + conditional + min/ln re-derived
    "expr_sort" ->
      s"""SELECT doc_id,
         |       round(sqrt(n_chars) + (n_chars % 7) * 0.5 +
         |             (CASE WHEN n_chars > 500 THEN 2 ELSE 0 END) +
         |             least(ln(n_chars), 6), 6) AS score
         |FROM documents
         |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    // DrillSideways: each drilled dim counts against the OTHER drills;
    // the non-drilled size dim counts over the full drill-down set
    "facet_drillsideways" ->
      s"""WITH d AS (SELECT lang, source,
         |                  CAST(floor(n_chars / 200) AS BIGINT) AS size
         |           FROM documents)
         |SELECT dim, label, cnt FROM (
         |  SELECT 'lang' AS dim, lang AS label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM d WHERE source IN ('src3', 'src7') GROUP BY 2
         |  UNION ALL
         |  SELECT 'source', source, CAST(count(*) AS BIGINT)
         |  FROM d WHERE lang IN ('en', 'de') GROUP BY 2
         |  UNION ALL
         |  SELECT 'size', CAST(size AS VARCHAR), CAST(count(*) AS BIGINT)
         |  FROM d WHERE lang IN ('en', 'de') AND source IN ('src3', 'src7')
         |  GROUP BY 2)
         |ORDER BY dim, cnt DESC, label""".stripMargin,

    // Multi-select faceting (tagged filter exclusion): q=spark, each
    // facet's domain keeps the OTHER dimension's filter only
    "facet_multiselect" ->
      s"""WITH $tokensCte,
         |m AS (SELECT d.doc_id, d.lang, d.source FROM documents d
         |      WHERE EXISTS(SELECT 1 FROM tokens t
         |                   WHERE t.doc_id = d.doc_id AND t.term = 'spark'))
         |SELECT dim, label, cnt FROM (
         |  SELECT 'lang' AS dim, lang AS label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM m WHERE source IN ('src3', 'src7') GROUP BY 2
         |  UNION ALL
         |  SELECT 'source', source, CAST(count(*) AS BIGINT)
         |  FROM m WHERE lang IN ('en', 'de') GROUP BY 2)
         |ORDER BY dim, cnt DESC, label""".stripMargin,

    // Taxonomy child counts: root level (per lang) + under path [en]
    "facet_taxonomy" ->
      s"""SELECT level, label, cnt FROM (
         |  SELECT 'root' AS level, lang AS label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM documents GROUP BY 2
         |  UNION ALL
         |  SELECT 'en', source, CAST(count(*) AS BIGINT)
         |  FROM documents WHERE lang = 'en' GROUP BY 2)
         |ORDER BY level, cnt DESC, label""".stripMargin,

    // Search-results clustering: k-means (2 Lloyd rounds, lowest-4-id
    // seeds) over the embeddings of the docs matching \bvector\b, labels =
    // top-2 member terms per cluster
    "cluster_results" ->
      s"""WITH ${kmeansSubsetCtes(
        "vec_id IN (SELECT doc_id FROM documents " +
          "WHERE regexp_matches(text, '\\bvector\\b'))", 4, 64)},
         |$tokAllCte,
         |tc AS (SELECT a.cid, t.term, count(*) AS cnt
         |       FROM asg a JOIN tokall t ON t.doc_id = a.id
         |       GROUP BY a.cid, t.term),
         |top2 AS (SELECT cid, term, rn FROM (
         |  SELECT cid, term,
         |    row_number() OVER (PARTITION BY cid ORDER BY cnt DESC, term) AS rn
         |  FROM tc) WHERE rn <= 2),
         |lbl AS (SELECT cid, string_agg(term, ',' ORDER BY rn) AS labels
         |        FROM top2 GROUP BY cid)
         |SELECT a.cid AS cluster, CAST(count(*) AS BIGINT) AS size, l.labels
         |FROM asg a JOIN lbl l ON l.cid = a.cid
         |GROUP BY a.cid, l.labels
         |ORDER BY size DESC, cluster""".stripMargin,

    // langid update processor: stop-profile argmax, whitelist gate,
    // fallback to the source field, text mapped to text_{lang}
    "update_langid" ->
      s"""WITH $tokAllCte,
         |stop(slang, sterm) AS (VALUES $stopValues),
         |hits AS (SELECT t.doc_id AS id, s.slang, count(*) AS hits
         |         FROM tokall t JOIN stop s ON s.sterm = t.term GROUP BY 1, 2),
         |best AS (SELECT id, slang FROM (
         |  SELECT id, slang,
         |    row_number() OVER (PARTITION BY id ORDER BY hits DESC, slang) AS rn
         |  FROM hits) WHERE rn = 1),
         |resolved AS (
         |  SELECT d.doc_id, CASE
         |    WHEN b.slang IS NULL THEN d.source
         |    WHEN b.slang IN ('en','de','fr','zh') THEN b.slang
         |    ELSE d.source END AS language
         |  FROM documents d LEFT JOIN best b ON b.id = d.doc_id)
         |SELECT doc_id, language,
         |       concat('text_', language) AS mapped_fields
         |FROM resolved ORDER BY doc_id""".stripMargin,

    // Association facets: per-category sum of per-doc association values
    // (integer-valued doubles, so the distributed sum is order-exact)
    "facet_assoc" ->
      s"""WITH m AS (SELECT * FROM documents WHERE doc_id % 3 <> 1),
         |a AS (
         |  SELECT concat('lang/', lang) AS path,
         |         CAST(n_chars AS DOUBLE) AS value FROM m
         |  UNION ALL
         |  SELECT concat('src/', source),
         |         CAST(n_chars % 7 + 1 AS DOUBLE) FROM m)
         |SELECT path, SUM(value) AS total FROM a
         |GROUP BY path ORDER BY total DESC, path""".stripMargin,

    "facet_prefix" ->
      s"""SELECT p_type, CAST(count(*) AS BIGINT) AS cnt FROM part
         |WHERE p_type LIKE 'S%' GROUP BY 1
         |HAVING count(*) >= 2 ORDER BY p_type""".stripMargin,

    // sortMissingLast: best 'P'-order total per customer; missing sorts
    // after every present value, served as two top-k slices
    "sort_missing" ->
      s"""WITH best AS (SELECT o_custkey, max(o_totalprice) AS mx FROM orders
         |              WHERE o_orderstatus = 'P' GROUP BY 1),
         |j AS (SELECT c.c_custkey, b.mx FROM customer c
         |      LEFT JOIN best b ON b.o_custkey = c.c_custkey),
         |p AS (SELECT 'present' AS part, c_custkey,
         |        CAST(round(mx * 100) AS BIGINT) AS mx_cents
         |      FROM j WHERE mx IS NOT NULL
         |      ORDER BY mx DESC, c_custkey LIMIT 5),
         |m AS (SELECT 'missing' AS part, c_custkey, CAST(-1 AS BIGINT) AS mx_cents
         |      FROM j WHERE mx IS NULL ORDER BY c_custkey LIMIT 5)
         |SELECT * FROM (SELECT * FROM p UNION ALL SELECT * FROM m)
         |ORDER BY part DESC, mx_cents DESC, c_custkey""".stripMargin,

    "func_strdist" ->
      s"""SELECT p_partkey, p_name,
         |  round(1.0 - CAST(levenshtein(p_name, 'small gear') AS DOUBLE)
         |        / greatest(length(p_name), 10), 6) AS sim
         |FROM part ORDER BY sim DESC, p_partkey LIMIT 20""".stripMargin,

    // Solr date math resolved in SQL: date_trunc = /UNIT, INTERVAL = +/-
    "date_math" ->
      s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS nowms FROM events),
         |nw AS (SELECT make_timestamp(nowms * 1000) AS now_ts FROM mx),
         |b(expr, from_ms) AS (
         |  SELECT 'NOW/DAY', epoch_ms(date_trunc('day', now_ts)) FROM nw UNION ALL
         |  SELECT 'NOW/DAY-7DAYS', epoch_ms(date_trunc('day', now_ts) - INTERVAL 7 DAY) FROM nw UNION ALL
         |  SELECT 'NOW/HOUR-36HOURS', epoch_ms(date_trunc('hour', now_ts) - INTERVAL 36 HOUR) FROM nw UNION ALL
         |  SELECT 'NOW/MONTH', epoch_ms(date_trunc('month', now_ts)) FROM nw UNION ALL
         |  SELECT 'NOW-90MINUTES', epoch_ms(now_ts - INTERVAL 90 MINUTE) FROM nw UNION ALL
         |  SELECT 'NOW/DAY+1DAY', epoch_ms(date_trunc('day', now_ts) + INTERVAL 1 DAY) FROM nw)
         |SELECT b.expr, CAST(b.from_ms AS BIGINT) AS from_ms,
         |       CAST(count(e.ts) AS BIGINT) AS cnt
         |FROM b LEFT JOIN events e ON epoch_ms(e.ts) >= b.from_ms
         |GROUP BY 1, 2 ORDER BY b.expr""".stripMargin,

    "terms_query" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM documents
         |WHERE doc_id IN (${(0 until 300).map(_ * 7 + 3).mkString(", ")})
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // /analysis/field: stage 1 = raw tokenizer stream, stage 2 = after
    // the per-lang StopFilter (positions keep the gaps)
    "analysis_field" ->
      s"""WITH $tokensCte
         |SELECT doc_id, stage, pos, term FROM (
         |  SELECT doc_id, '1_tokenize' AS stage, pos, term FROM tokall
         |  WHERE doc_id IN (3, 7)
         |  UNION ALL
         |  SELECT doc_id, '2_stop', pos, term FROM tokens WHERE doc_id IN (3, 7))
         |ORDER BY doc_id, stage, pos""".stripMargin,

    // WordDelimiterFilter over "w1-w2's" with Solr defaults +
    // CATENATE_ALL: [w1, w1||w2, w2] at positions 0, 0, 1
    "analysis_wdf" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2 FROM documents)
         |SELECT doc_id, term, pos FROM (
         |  SELECT doc_id, w1 AS term, CAST(0 AS BIGINT) AS pos FROM w
         |  UNION ALL SELECT doc_id, w1 || w2, 0 FROM w
         |  UNION ALL SELECT doc_id, w2, 1 FROM w)
         |ORDER BY doc_id, pos, term""".stripMargin,

    // CommonGrams index/query stages re-derived relationally: grams are
    // adjacent pairs touching a common word; query-side keeps grams and
    // drops a unigram only when it is the LEFT word of a gram (the filter
    // lags one token, so the gram silently replaces it), or when it is
    // the final token and a gram ends on it. Survivors re-position
    // 0..n-1 in stream order (gram keyed at its left word's raw pos).
    "analysis_commongrams" ->
      s"""WITH d7 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 7 = 0),
         |${tokAllCteOver("d7")},
         |grams AS (
         |  SELECT a.doc_id, a.pos, a.term || '_' || b.term AS term
         |  FROM tokall a JOIN tokall b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term IN ('the', 'a') OR b.term IN ('the', 'a')),
         |mx AS (SELECT doc_id, max(pos) AS mxpos FROM tokall GROUP BY doc_id),
         |qstream AS (
         |  SELECT doc_id, pos AS k, term FROM grams
         |  UNION ALL
         |  SELECT t.doc_id, t.pos, t.term FROM tokall t JOIN mx USING (doc_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM grams g WHERE g.doc_id = t.doc_id
         |                    AND g.pos = t.pos)
         |    AND NOT (t.pos = mx.mxpos AND EXISTS (SELECT 1 FROM grams g
         |             WHERE g.doc_id = t.doc_id AND g.pos = t.pos - 1)))
         |SELECT doc_id, stage, pos, term FROM (
         |  SELECT doc_id, 'index' AS stage, pos, term FROM tokall
         |  UNION ALL SELECT doc_id, 'index', pos, term FROM grams
         |  UNION ALL SELECT doc_id, 'query',
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS BIGINT),
         |    term FROM qstream)
         |ORDER BY doc_id, stage, pos, term""".stripMargin,

    // PathHierarchyTokenizer: cumulative prefixes of /lang/srcN/doc_id;
    // skip=1 keeps the delimiter of each retained component
    "analysis_pathhier" ->
      s"""WITH d AS (SELECT doc_id, lang, source, CAST(doc_id AS VARCHAR) AS sid
         |           FROM documents WHERE doc_id % 11 = 0)
         |SELECT doc_id, cfg, term FROM (
         |  SELECT doc_id, 'default' AS cfg, '/' || lang AS term FROM d
         |  UNION ALL SELECT doc_id, 'default', '/' || lang || '/' || source FROM d
         |  UNION ALL SELECT doc_id, 'default',
         |    '/' || lang || '/' || source || '/' || sid FROM d
         |  UNION ALL SELECT doc_id, 'skip1', '/' || source FROM d
         |  UNION ALL SELECT doc_id, 'skip1', '/' || source || '/' || sid FROM d)
         |ORDER BY doc_id, cfg, term""".stripMargin,

    // ReversePathHierarchy suffixes of /lang/source/id (skip=1 keeps the
    // trailing delimiter of the truncated prefix); upper2 = first two
    // positions uppercased (LimitTokenPositionFilter + UpperCaseFilter)
    "analysis_pathhier_rev" ->
      s"""WITH d AS (SELECT doc_id, lang, source, CAST(doc_id AS VARCHAR) AS sid,
         |                  split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2
         |           FROM documents WHERE lang = 'en' AND doc_id % 11 = 7)
         |SELECT doc_id, cfg, term FROM (
         |  SELECT doc_id, 'rev' AS cfg,
         |         '/' || lang || '/' || source || '/' || sid AS term FROM d
         |  UNION ALL SELECT doc_id, 'rev', lang || '/' || source || '/' || sid FROM d
         |  UNION ALL SELECT doc_id, 'rev', source || '/' || sid FROM d
         |  UNION ALL SELECT doc_id, 'rev', sid FROM d
         |  UNION ALL SELECT doc_id, 'revskip1',
         |    '/' || lang || '/' || source || '/' FROM d
         |  UNION ALL SELECT doc_id, 'revskip1', lang || '/' || source || '/' FROM d
         |  UNION ALL SELECT doc_id, 'revskip1', source || '/' FROM d
         |  UNION ALL SELECT doc_id, 'upper2', upper(w1) FROM d
         |  UNION ALL SELECT doc_id, 'upper2', upper(w2) FROM d)
         |ORDER BY doc_id, cfg, term""".stripMargin,

    // PatternTokenizer: split mode [lang, w1, w2] / group mode [w1, w2]
    // over composites built from the doc's first two words
    "analysis_pattern" ->
      s"""WITH w AS (SELECT doc_id, lang, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2
         |           FROM documents WHERE doc_id % 13 = 0)
         |SELECT doc_id, mode, pos, term FROM (
         |  SELECT doc_id, 'split' AS mode, CAST(0 AS BIGINT) AS pos, lang AS term FROM w
         |  UNION ALL SELECT doc_id, 'split', 1, w1 FROM w
         |  UNION ALL SELECT doc_id, 'split', 2, w2 FROM w
         |  UNION ALL SELECT doc_id, 'group', 0, w1 FROM w
         |  UNION ALL SELECT doc_id, 'group', 1, w2 FROM w)
         |ORDER BY doc_id, mode, pos, term""".stripMargin,

    // UAX29URLEmailTokenizer over per-doc composites: the w1.com/w2 URL
    // and w1@w2.org EMAIL tokenize as single typed tokens, words pass the
    // UAX#29 rules
    "analysis_urlemail" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2
         |           FROM documents WHERE lang = 'en' AND doc_id % 7 = 0)
         |SELECT doc_id, pos, term, type FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'visit' AS term,
         |         '<ALPHANUM>' AS type FROM w
         |  UNION ALL SELECT doc_id, CAST(1 AS BIGINT),
         |    w1 || '.com/' || w2, '<URL>' FROM w
         |  UNION ALL SELECT doc_id, CAST(2 AS BIGINT), 'mail', '<ALPHANUM>' FROM w
         |  UNION ALL SELECT doc_id, CAST(3 AS BIGINT),
         |    w1 || '@' || w2 || '.org', '<EMAIL>' FROM w
         |  UNION ALL SELECT doc_id, CAST(4 AS BIGINT), 'end', '<ALPHANUM>' FROM w)
         |ORDER BY doc_id, pos""".stripMargin,

    // PatternReplaceFilter (all/first), PatternReplaceCharFilter ('a'->'aa'
    // over "w1 w2"; off = corrected token start, which maps back to the
    // ORIGINAL text: 0 and len(w1)+1), PatternCaptureGroupTokenFilter
    // (vowel runs of w1, original when no run)
    "analysis_patternreplace" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2
         |           FROM documents WHERE doc_id % 17 = 0),
         |caps AS (SELECT doc_id, w1,
         |                regexp_extract_all(w1, '[aeiou]+') AS runs FROM w)
         |SELECT doc_id, mode, ord, off, term FROM (
         |  SELECT doc_id, 'replace_all' AS mode, CAST(0 AS BIGINT) AS ord,
         |         CAST(0 AS BIGINT) AS off,
         |         regexp_replace(w1, '[aeiou]', '_', 'g') AS term FROM w
         |  UNION ALL SELECT doc_id, 'replace_all', CAST(1 AS BIGINT),
         |    CAST(0 AS BIGINT), regexp_replace(w2, '[aeiou]', '_', 'g') FROM w
         |  UNION ALL SELECT doc_id, 'replace_first', CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), regexp_replace(w1, '[aeiou]', '_') FROM w
         |  UNION ALL SELECT doc_id, 'charfilter', CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), regexp_replace(w1, 'a', 'aa', 'g') FROM w
         |  UNION ALL SELECT doc_id, 'charfilter', CAST(1 AS BIGINT),
         |    CAST(len(w1) + 1 AS BIGINT), regexp_replace(w2, 'a', 'aa', 'g') FROM w
         |  UNION ALL SELECT doc_id, 'capture',
         |    CAST(generate_subscripts(runs, 1) - 1 AS BIGINT),
         |    CAST(0 AS BIGINT), unnest(runs) FROM caps
         |  UNION ALL SELECT doc_id, 'capture', CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), w1 FROM caps WHERE len(runs) = 0)
         |ORDER BY doc_id, mode, ord""".stripMargin,

    // MappingCharFilter: the engine's greedy charmap scan re-derived with
    // chained non-rescanning replace() (pattern char sets are disjoint, so
    // sequential == simultaneous); corrected offsets are the ORIGINAL word
    // boundaries.
    "analysis_mapping" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2
         |           FROM documents WHERE doc_id % 23 = 0),
         |m AS (SELECT doc_id,
         |  replace(replace(replace(w1,'aa','a'),'e','ee'),'ing','1') AS t1,
         |  replace(replace(replace(w2,'aa','a'),'e','ee'),'ing','1') AS t2,
         |  len(w1) AS l1, len(w2) AS l2 FROM w)
         |SELECT doc_id, ord, term, cstart, cend FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS ord, t1 AS term,
         |         CAST(0 AS BIGINT) AS cstart, CAST(l1 AS BIGINT) AS cend
         |  FROM m
         |  UNION ALL
         |  SELECT doc_id, CAST(1 AS BIGINT), t2, CAST(l1 + 1 AS BIGINT),
         |         CAST(l1 + 1 + l2 AS BIGINT) FROM m)
         |ORDER BY doc_id, ord""".stripMargin,

    // positionIncrementGap: with values [w1 w2][w3 w4], the multi-valued
    // adjacency pairs are (w1,w2) and (w3,w4) only — phrase(w2,w3)
    // matches iff one of those pairs happens to EQUAL (w2,w3); the
    // single-value concat always carries the (w2,w3) pair, and the inner
    // phrase (w1,w2) always matches.
    "ft_multivalued_gap" ->
      s"""WITH stop(slang, sterm) AS (VALUES $stopValues),
         |w AS (SELECT doc_id, lang,
         |        split_part(text, ' ', 1) AS w1, split_part(text, ' ', 2) AS w2,
         |        split_part(text, ' ', 3) AS w3, split_part(text, ' ', 4) AS w4
         |      FROM documents WHERE doc_id % 11 = 0),
         |f AS (SELECT * FROM w WHERE w4 <> '' AND NOT EXISTS (
         |        SELECT 1 FROM stop s WHERE s.slang = w.lang
         |          AND s.sterm IN (w.w1, w.w2, w.w3, w.w4)))
         |SELECT doc_id,
         |  ((w1 = w2 AND w2 = w3) OR (w3 = w2 AND w4 = w3)) AS cross_multi,
         |  TRUE AS cross_single,
         |  TRUE AS inner_multi
         |FROM f ORDER BY doc_id""".stripMargin,

    // CurrencyField: conversion re-derived with the same double
    // arithmetic (direct 0.5 for EUR, inverse 2.0 for GBP, 1/81.29 with
    // the +2 fraction-digit double-multiply for JPY), truncation via
    // trunc() (DuckDB CAST rounds, Java (long) truncates).
    "func_currency" ->
      s"""WITH d AS (SELECT o_orderkey AS key,
         |    CAST(floor(o_totalprice) AS BIGINT) * 100 AS amount,
         |    CASE o_orderkey % 4 WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR'
         |         WHEN 2 THEN 'GBP' ELSE 'JPY' END AS currency
         |  FROM orders),
         |c AS (SELECT key, currency, CAST(trunc(CASE currency
         |    WHEN 'USD' THEN CAST(amount AS DOUBLE) * 1.0
         |    WHEN 'EUR' THEN CAST(amount AS DOUBLE) * 0.5
         |    WHEN 'GBP' THEN CAST(amount AS DOUBLE) * 2.0
         |    ELSE ((CAST(amount AS DOUBLE) * (1.0 / 81.29)) * 10.0) * 10.0
         |    END) AS BIGINT) AS usd
         |  FROM d)
         |SELECT mode, key, currency, usd FROM (
         |  SELECT 'conv' AS mode, key, currency, usd FROM c
         |  WHERE key % 50 = 0
         |  UNION ALL
         |  SELECT 'range', key, currency, usd FROM c
         |  WHERE key % 10 = 0 AND usd BETWEEN 10000000 AND 20000000)
         |ORDER BY mode, key""".stripMargin,

    // CompositeIdRouter: a `lang!doc_id` key places a doc by the top 16
    // bits of murmur3(lang), so the shard is a pure function of lang.
    // The (lang, shard) map and prune rows below were derived with an
    // independent pure-python murmur3_x86_32 (hash(de)=0x20617ba6 -> top2
    // bits 0 -> ring slot [0x0,0x3fffffff] = shard 2; en=0x758d54c3 -> 3;
    // es=0x69761a3c -> 3; fr=0x9a0c6ea3 -> 0; zh=0x76ef90d1 -> 3;
    // `en!` band lies inside shard 3; `fr/1!` top bit 1 -> shards 0,1).
    "route_composite" ->
      s"""WITH m(mlang, shard) AS (VALUES
         |  ('de', 2), ('en', 3), ('es', 3), ('fr', 0), ('zh', 3))
         |SELECT mode, doc_id, lang, shard FROM (
         |  SELECT 'route' AS mode, d.doc_id, d.lang,
         |         CAST(m.shard AS BIGINT) AS shard
         |  FROM documents d JOIN m ON m.mlang = d.lang
         |  UNION ALL
         |  SELECT 'prune_en', CAST(-1 AS BIGINT), 'en', CAST(3 AS BIGINT)
         |  UNION ALL SELECT 'prune_fr1', -1, 'fr', 0
         |  UNION ALL SELECT 'prune_fr1', -1, 'fr', 1)
         |ORDER BY mode, doc_id, shard""".stripMargin,

    // ExternalFileField: the external-line construction collapses to a
    // direct per-doc formula (override wins on %6 keys, base on %3,
    // defVal elsewhere; malformed/garbage/'=' keys are no-ops). All
    // values are exact binary quarters, so no rounding is needed.
    "func_external" ->
      s"""SELECT doc_id, CAST(CASE
         |  WHEN doc_id % 6 = 0 THEN (doc_id % 5) + 0.25
         |  WHEN doc_id % 3 = 0 THEN (doc_id % 7) * 0.5
         |  ELSE 0.25 END AS DOUBLE) AS ext
         |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,

    // ICU en tertiary collation over ASCII alnum terms == (case-folded
    // text, then per-position case level with lowercase first) — the
    // locale semantics re-derived with a translate() case mask.
    "analysis_collation" -> {
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      val digits = "0123456789"
      val mask = "0" * 26 + "1" * 26 + "0" * 10
      s"""WITH w AS (SELECT DISTINCT split_part(text, ' ', 1) AS w1
         |           FROM documents WHERE doc_id % 13 = 0),
         |v AS (SELECT DISTINCT term FROM (
         |  SELECT w1 AS term FROM w
         |  UNION ALL SELECT upper(substr(w1, 1, 1)) || substr(w1, 2) FROM w
         |  UNION ALL SELECT upper(w1) FROM w))
         |SELECT CAST(row_number() OVER (ORDER BY lower(term),
         |         translate(term, '$lower$upper$digits', '$mask'), term)
         |       AS BIGINT) AS rank, term
         |FROM v ORDER BY rank""".stripMargin
    },

    // Keyword marker + stemmer override: expected surface->stem pairs for
    // the full English corpus vocabulary, enumerated independently from
    // English morphology (keyword {query}; overrides customer->client,
    // merge->combin; Porter for the rest — note line/window/order are
    // fixed points, table/value/merge lose the trailing e, key->kei by
    // step 1c's (*v*) Y->I, and query->queri would apply but the keyword
    // set protects it)
    "analysis_stemcontrol" ->
      s"""WITH $tokAllCte,
         |v AS (SELECT DISTINCT term FROM tokall WHERE lang = 'en'),
         |m(mterm, mstem) AS (VALUES
         |  ('a','a'),('agg','agg'),('batch','batch'),('big','big'),
         |  ('column','column'),('customer','client'),('data','data'),
         |  ('dup','dup'),('fast','fast'),('filter','filter'),
         |  ('group','group'),('hash','hash'),('join','join'),('key','kei'),
         |  ('line','line'),('merge','combin'),('order','order'),
         |  ('part','part'),('query','query'),('row','row'),('scan','scan'),
         |  ('slow','slow'),('small','small'),('sort','sort'),
         |  ('spark','spark'),('stream','stream'),('table','tabl'),
         |  ('the','the'),('value','valu'),('vector','vector'),
         |  ('window','window'))
         |SELECT v.term, m.mstem AS stem FROM v JOIN m ON m.mterm = v.term
         |ORDER BY v.term""".stripMargin,

    // NGramTokenFilter (grams by start offset then length) + streaming
    // NGramTokenizer (2-grams crossing spaces), re-derived with substr
    "analysis_ngram" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  substr(text, 1, 8) AS c8
         |           FROM documents WHERE doc_id % 9 = 0),
         |f AS (SELECT doc_id, p, s,
         |             substr(w1, CAST(p + 1 AS INT), CAST(s AS INT)) AS term
         |      FROM w, (SELECT unnest(range(32)) AS p) pp,
         |           (SELECT unnest([2, 3]) AS s) ss
         |      WHERE p + s <= len(w1)),
         |tk AS (SELECT doc_id, p, substr(c8, CAST(p + 1 AS INT), 2) AS term
         |       FROM w, (SELECT unnest(range(7)) AS p) pp
         |       WHERE p + 2 <= len(c8))
         |SELECT doc_id, mode, ord, term FROM (
         |  SELECT doc_id, 'filter' AS mode,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p, s) - 1
         |         AS BIGINT) AS ord, term FROM f
         |  UNION ALL
         |  SELECT doc_id, 'tokenizer',
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1
         |         AS BIGINT), term FROM tk)
         |ORDER BY doc_id, mode, ord""".stripMargin,

    // EdgeNGramTokenFilter: 1..4-char prefixes of the first two words,
    // grams of a word share its position
    "analysis_edgengram" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2
         |           FROM documents WHERE doc_id % 9 = 0)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos,
         |         substr(w1, 1, CAST(s AS INT)) AS term
         |  FROM w, (SELECT unnest(range(1, 5)) AS s) ss WHERE s <= len(w1)
         |  UNION ALL
         |  SELECT doc_id, 1, substr(w2, 1, CAST(s AS INT))
         |  FROM w, (SELECT unnest(range(1, 5)) AS s) ss WHERE s <= len(w2))
         |ORDER BY doc_id, pos, term""".stripMargin,

    // ShingleFilter over the stop-filtered stream: slot = compressed
    // position after inserting min(hole, 1) fillers per gap; shingles are
    // "t1 t2" (adjacent), "t _" (hole follows), "_ t" (at the filler slot
    // before t). Trailing holes emit nothing (no next real token).
    "analysis_shingle" ->
      s"""WITH d5 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 5 = 1),
         |${tokensCteOver("d5")},
         |t AS (SELECT doc_id, term, pos,
         |        coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -1) AS ppos
         |      FROM tokens),
         |s AS (SELECT doc_id, term, pos,
         |        LEAST(pos - ppos - 1, 1) AS fill,
         |        CAST(SUM(1 + LEAST(pos - ppos - 1, 1))
         |          OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS BIGINT) AS slot
         |      FROM t),
         |nx AS (SELECT *,
         |         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm,
         |         lead(fill) OVER (PARTITION BY doc_id ORDER BY pos) AS nfill
         |       FROM s)
         |SELECT doc_id, pos, kind, term FROM (
         |  SELECT doc_id, slot AS pos, 'word' AS kind, term FROM s
         |  UNION ALL
         |  SELECT doc_id, slot, 'shingle', term || ' _' FROM nx WHERE nfill = 1
         |  UNION ALL
         |  SELECT doc_id, slot, 'shingle', term || ' ' || nterm FROM nx WHERE nfill = 0
         |  UNION ALL
         |  SELECT doc_id, slot - 1, 'shingle', '_ ' || term FROM s WHERE fill = 1)
         |ORDER BY doc_id, pos, kind, term""".stripMargin,

    // Misc filters: length band / keep set preserve the raw positions
    // (gaps where tokens dropped), truncate maps all tokens, limit takes
    // the first 10 positions, elision strips qualifying French articles
    "analysis_miscfilters" ->
      s"""WITH d8 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 8 = 2),
         |${tokAllCteOver("d8")},
         |w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |             split_part(text, ' ', 2) AS w2,
         |             split_part(text, ' ', 3) AS w3
         |      FROM d8)
         |SELECT doc_id, mode, pos, term FROM (
         |  SELECT doc_id, 'length26' AS mode, pos, term FROM tokall
         |  WHERE len(term) BETWEEN 2 AND 6
         |  UNION ALL SELECT doc_id, 'keep', pos, term FROM tokall
         |  WHERE term IN ('spark', 'data', 'merge')
         |  UNION ALL SELECT doc_id, 'trunc4', pos, substr(term, 1, 4) FROM tokall
         |  UNION ALL SELECT doc_id, 'limit10', pos, term FROM tokall WHERE pos < 10
         |  UNION ALL SELECT doc_id, 'elision', CAST(0 AS BIGINT), w1 FROM w
         |  UNION ALL SELECT doc_id, 'elision', 1, w2 FROM w
         |  UNION ALL SELECT doc_id, 'elision', 2, 'x''' || w3 FROM w)
         |ORDER BY doc_id, mode, pos, term""".stripMargin,

    // KStem over vocabulary-derived inflected forms; the expected stems
    // are copied verbatim from the reference's kstem_examples.txt golden
    // data (the join keeps exactly the probe forms that file covers)
    "analysis_kstem" ->
      s"""WITH $tokAllCte,
         |v AS (SELECT DISTINCT term FROM tokall WHERE lang = 'en'),
         |f AS (SELECT term AS form FROM v
         |      UNION SELECT term || 's' FROM v
         |      UNION SELECT term || 'ing' FROM v
         |      UNION SELECT term || 'ed' FROM v
         |      UNION SELECT term || 'es' FROM v),
         |m(mform, mstem) AS (VALUES
         |  ('a','a'),('as','as'),('big','big'),('columns','column'),
         |  ('customers','customer'),('data','data'),('dupes','dupe'),
         |  ('fast','fast'),('filter','filter'),('filtered','filter'),
         |  ('group','group'),('groups','group'),('join','join'),
         |  ('joined','join'),('joining','join'),('key','key'),
         |  ('line','line'),('lines','lines'),('order','order'),
         |  ('ordered','ordered'),('ordering','order'),('orders','orders'),
         |  ('part','part'),('parts','parts'),('query','query'),
         |  ('row','row'),('slow','slow'),('small','small'),
         |  ('sort','sort'),('sorts','sort'),('sparks','sparks'),
         |  ('stream','stream'),('streamed','stream'),('streaming','stream'),
         |  ('streams','stream'),('table','table'),('the','the'),
         |  ('value','value'),('values','value'),('windows','window'))
         |SELECT f.form, m.mstem AS stem FROM f JOIN m ON m.mform = f.form
         |ORDER BY f.form""".stripMargin,

    // Typed PII redaction: same synthesized text, same pattern order
    // (email, ssn, phone, ipv4), RE2 'g'-flag replaces + extract_all
    // counts
    "scrub_pii" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    split_part(text, ' ', 1) || ' reach ' || split_part(text, ' ', 1)
         |    || '.' || split_part(text, ' ', 2) || '@mail.example.com or 555-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ssn 042-68-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' host 10.'
         |    || CAST(doc_id % 256 AS VARCHAR) || '.0.12 end' AS text
         |  FROM documents WHERE doc_id % 10 = 4)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |    '[a-z0-9.]+@[a-z0-9.]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
         |    '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g'),
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g')
         |    AS redacted,
         |  CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+\\.[a-z]{2,}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS BIGINT) AS n_ssn,
         |  CAST(len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{4}\\b')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4
         |FROM d ORDER BY doc_id""".stripMargin,

    // Core tokenizers: whitespace keeps "w1-W2"/"w39w1" whole, letter
    // runs split at the hyphen and digit, lowercase-letter also folds,
    // keyword passes the composite through; payload mode strips "|p"
    "analysis_tokenizers" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2,
         |                  split_part(text, ' ', 3) AS w3
         |           FROM documents WHERE doc_id % 12 = 5)
         |SELECT doc_id, mode, pos, term, payload FROM (
         |  SELECT doc_id, 'ws' AS mode, CAST(0 AS BIGINT) AS pos,
         |         w1 || '-' || upper(w2) AS term, CAST(NULL AS VARCHAR) AS payload FROM w
         |  UNION ALL SELECT doc_id, 'ws', 1, w3 || '9' || w1, NULL FROM w
         |  UNION ALL SELECT doc_id, 'letter', 0, w1, NULL FROM w
         |  UNION ALL SELECT doc_id, 'letter', 1, upper(w2), NULL FROM w
         |  UNION ALL SELECT doc_id, 'letter', 2, w3, NULL FROM w
         |  UNION ALL SELECT doc_id, 'letter', 3, w1, NULL FROM w
         |  UNION ALL SELECT doc_id, 'lcletter', 0, w1, NULL FROM w
         |  UNION ALL SELECT doc_id, 'lcletter', 1, w2, NULL FROM w
         |  UNION ALL SELECT doc_id, 'lcletter', 2, w3, NULL FROM w
         |  UNION ALL SELECT doc_id, 'lcletter', 3, w1, NULL FROM w
         |  UNION ALL SELECT doc_id, 'keyword', 0,
         |    w1 || '-' || upper(w2) || ' ' || w3 || '9' || w1, NULL FROM w
         |  UNION ALL SELECT doc_id, 'payload', 0, w1, '2.5' FROM w
         |  UNION ALL SELECT doc_id, 'payload', 1, w2, '7' FROM w
         |  UNION ALL SELECT doc_id, 'payload', 2, w3, NULL FROM w)
         |ORDER BY doc_id, mode, pos""".stripMargin,

    // ClassicTokenizer composite: COMPANY, possessive-stripped
    // APOSTROPHE, dot-stripped ACRONYM, HOST, NUM, underscore split
    // Passage highlighting: the two hit-bearing sentences win, at fixed
    // offsets relative to the leading corpus word
    "ft_highlight_postings" ->
      s"""WITH w AS (SELECT doc_id FROM documents
         |           WHERE lang = 'en' AND doc_id % 11 = 8)
         |SELECT doc_id, pos, snippet FROM (
         |  SELECT doc_id, CAST(12 AS BIGINT) AS pos,
         |         '<b>Vector</b> beta <b>vector</b>.' AS snippet FROM w
         |  UNION ALL SELECT doc_id, 45, '<b>Vector</b> epsilon.' FROM w
         |) ORDER BY doc_id, pos""".stripMargin,

    // FastVectorHighlighter over the doc-prefixed fixed tail: the phrase
    // tags as one span, fragments are match-centered + boundary-snapped,
    // and the phrase+term fragment outranks the phrase-only one; the
    // variable first word only shifts offsets, never the emitted text
    "ft_highlight_fvh" ->
      s"""WITH w AS (SELECT doc_id FROM documents
         |           WHERE lang = 'en' AND doc_id % 11 = 5)
         |SELECT doc_id, rank, fragment FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS rank,
         |    'another <b>zebraq lionq</b> shows up with <b>tigerq</b> close'
         |      AS fragment FROM w
         |  UNION ALL SELECT doc_id, 1,
         |    'runs first. The <b>zebraq lionq</b> pair appears early' FROM w
         |) ORDER BY doc_id, rank""".stripMargin,

    // Classic Highlighter: the corpus is clean space-separated lowercase
    // words, so \b regex boundaries coincide with StandardTokenizer token
    // boundaries; term markup highlights every 'vector' token, phrase
    // markup only exact "data vector" adjacencies (slop-0 in-order spans),
    // each span highlighting its two tokens separately
    "ft_highlight_classic" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '\\bvector\\b')) AS BIGINT)
         |    AS n_term,
         |  regexp_replace(text, '\\b(vector)\\b', '<B>\\1</B>', 'g')
         |    AS hl_term,
         |  CAST(2 * len(regexp_extract_all(text, '\\bdata vector\\b'))
         |    AS BIGINT) AS n_phrase,
         |  regexp_replace(text, '\\bdata vector\\b',
         |    '<B>data</B> <B>vector</B>', 'g') AS hl_phrase
         |FROM documents
         |WHERE len(regexp_extract_all(text, '\\bvector\\b')) > 0
         |ORDER BY doc_id""".stripMargin,

    // UTR#30 folding of the reference's own test vectors
    "analysis_icufold" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1
         |           FROM documents WHERE lang = 'en' AND doc_id % 11 = 7)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'russ' AS term FROM w
         |  UNION ALL SELECT doc_id, 1, 'μαιοσ' FROM w
         |  UNION ALL SELECT doc_id, 2, 'resume' FROM w
         |  UNION ALL SELECT doc_id, 3, '706' FROM w
         |  UNION ALL SELECT doc_id, 4, 'craezy' FROM w
         |  UNION ALL SELECT doc_id, 5, 'elif' FROM w
         |  UNION ALL SELECT doc_id, 6, w1 FROM w
         |) ORDER BY doc_id, pos""".stripMargin,

    // Tee/sink routing: pass = all 5 tokens; dates = the two MM/dd/yyyy
    // parses; range = stream positions [1,3); types = whitespace 'word's
    "analysis_sinks" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2,
         |                  split_part(text, ' ', 3) AS w3
         |           FROM documents WHERE doc_id % 12 = 5)
         |SELECT doc_id, sink, pos, term FROM (
         |  SELECT doc_id, 'pass' AS sink, CAST(0 AS BIGINT) AS pos, w1 AS term FROM w
         |  UNION ALL SELECT doc_id, 'pass', 1, '7/11/2006' FROM w
         |  UNION ALL SELECT doc_id, 'pass', 2, w2 FROM w
         |  UNION ALL SELECT doc_id, 'pass', 3, w3 FROM w
         |  UNION ALL SELECT doc_id, 'pass', 4, '8/09/2010' FROM w
         |  UNION ALL SELECT doc_id, 'dates', 0, '7/11/2006' FROM w
         |  UNION ALL SELECT doc_id, 'dates', 1, '8/09/2010' FROM w
         |  UNION ALL SELECT doc_id, 'range', 0, '7/11/2006' FROM w
         |  UNION ALL SELECT doc_id, 'range', 1, w2 FROM w
         |  UNION ALL SELECT doc_id, 'types', 0, w1 FROM w
         |  UNION ALL SELECT doc_id, 'types', 1, '7/11/2006' FROM w
         |  UNION ALL SELECT doc_id, 'types', 2, w2 FROM w
         |  UNION ALL SELECT doc_id, 'types', 3, w3 FROM w
         |  UNION ALL SELECT doc_id, 'types', 4, '8/09/2010' FROM w
         |) ORDER BY doc_id, sink, pos""".stripMargin,

    // Payload filters: numeric (3.0f on <NUM> = 40400000), offset
    // (%08x start ++ %08x end), type-as-payload (UTF-8 hex of the type)
    "analysis_payloads" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2
         |           FROM documents WHERE doc_id % 12 = 5)
         |SELECT doc_id, mode, pos, term, payload FROM (
         |  SELECT doc_id, 'numeric' AS mode, CAST(0 AS BIGINT) AS pos,
         |         w1 AS term, CAST(NULL AS VARCHAR) AS payload FROM w
         |  UNION ALL SELECT doc_id, 'numeric', 1, '42', '40400000' FROM w
         |  UNION ALL SELECT doc_id, 'numeric', 2, w2, NULL FROM w
         |  UNION ALL SELECT doc_id, 'offset', 0, w1,
         |    printf('%08x%08x', 0, len(w1)) FROM w
         |  UNION ALL SELECT doc_id, 'offset', 1, '42',
         |    printf('%08x%08x', len(w1) + 1, len(w1) + 3) FROM w
         |  UNION ALL SELECT doc_id, 'offset', 2, w2,
         |    printf('%08x%08x', len(w1) + 4, len(w1) + 4 + len(w2)) FROM w
         |  UNION ALL SELECT doc_id, 'type', 0, w1, lower(hex('<ALPHANUM>')) FROM w
         |  UNION ALL SELECT doc_id, 'type', 1, '42', lower(hex('<NUM>')) FROM w
         |  UNION ALL SELECT doc_id, 'type', 2, w2, lower(hex('<ALPHANUM>')) FROM w
         |) ORDER BY doc_id, mode, pos""".stripMargin,

    // ICU nfkc_cf normalization (reference TestICUNormalizer2Filter
    // vectors; corpus word is already normal)
    "analysis_icunorm" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1
         |           FROM documents WHERE lang = 'en' AND doc_id % 11 = 7)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'this' AS term FROM w
         |  UNION ALL SELECT doc_id, 1, 'russ' FROM w
         |  UNION ALL SELECT doc_id, 2, 'μάϊοσ' FROM w
         |  UNION ALL SELECT doc_id, 3, 'طمطمطم' FROM w
         |  UNION ALL SELECT doc_id, 4, w1 FROM w
         |) ORDER BY doc_id, pos""".stripMargin,

    // ICU transliteration (reference TestICUTransformFilter vectors;
    // Any-Latin on an ASCII corpus word is identity)
    "analysis_icutransform" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1
         |           FROM documents WHERE lang = 'en' AND doc_id % 11 = 7)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, '简化字' AS term FROM w
         |  UNION ALL SELECT doc_id, 1, 'ひらがな' FROM w
         |  UNION ALL SELECT doc_id, 2, 'Alphabētikós' FROM w
         |  UNION ALL SELECT doc_id, 3, 'Alphabetikos' FROM w
         |  UNION ALL SELECT doc_id, 4, 'zhōng guó' FROM w
         |  UNION ALL SELECT doc_id, 5, w1 FROM w
         |) ORDER BY doc_id, pos""".stripMargin,

    // ICU UAX#29 word segmentation with dictionary breaks: Thai splits
    // into words, CJK runs split, apostrophe words stay whole
    "analysis_icutokenize" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1
         |           FROM documents WHERE lang = 'en' AND doc_id % 11 = 7)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, w1 AS term FROM w
         |  UNION ALL SELECT doc_id, 1, 'คน' FROM w
         |  UNION ALL SELECT doc_id, 2, 'ที่' FROM w
         |  UNION ALL SELECT doc_id, 3, 'ไป' FROM w
         |  UNION ALL SELECT doc_id, 4, 'โรงเรียน' FROM w
         |  UNION ALL SELECT doc_id, 5, '1234' FROM w
         |  UNION ALL SELECT doc_id, 6, '日本語' FROM w
         |  UNION ALL SELECT doc_id, 7, 'テキスト' FROM w
         |  UNION ALL SELECT doc_id, 8, 'don''t' FROM w
         |) ORDER BY doc_id, pos""".stripMargin,

    // SmartCN segmentation of the fixed sentence is the reference's
    // TestSmartChineseAnalyzer vector; the stopped '。' delimiter leaves a
    // position gap, then the doc_id digits token follows at pos 7
    "analysis_smartcn" ->
      s"""WITH w AS (SELECT doc_id FROM documents
         |           WHERE lang = 'en' AND doc_id % 7 = 5)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, '我' AS term FROM w
         |  UNION ALL SELECT doc_id, 1, '购买' FROM w
         |  UNION ALL SELECT doc_id, 2, '了' FROM w
         |  UNION ALL SELECT doc_id, 3, '道具' FROM w
         |  UNION ALL SELECT doc_id, 4, '和' FROM w
         |  UNION ALL SELECT doc_id, 5, '服装' FROM w
         |  UNION ALL SELECT doc_id, 7, CAST(doc_id AS VARCHAR) FROM w
         |) ORDER BY doc_id, pos""".stripMargin,

    // Japanese chain: reference segmentation of testDecomposition2's
    // sentence, ja stop set gaps (の@1, は@3, ば@7, なら@8, ない@9
    // stopped), per-doc digits at pos 10
    // Iteration-mark normalization: 時々->時時 (kanji, variant 0 only),
    // おゝの->おおの, ところゞゝゝ->ところどころ (kana, both variants)
    "analysis_ja_itermark" ->
      s"""WITH w AS (SELECT doc_id FROM documents
         |           WHERE lang = 'en' AND doc_id % 11 = 3)
         |SELECT doc_id, variant, norm FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS variant,
         |         '時時、おおの' || CAST(doc_id AS VARCHAR) ||
         |         '。ところどころ。' AS norm FROM w
         |  UNION ALL SELECT doc_id, 1,
         |         '時々、おおの' || CAST(doc_id AS VARCHAR) ||
         |         '。ところどころ。' FROM w
         |) ORDER BY doc_id, variant""".stripMargin,

    "analysis_japanese" ->
      s"""WITH w AS (SELECT doc_id FROM documents
         |           WHERE lang = 'en' AND doc_id % 9 = 4)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, '麻薬' AS term FROM w
         |  UNION ALL SELECT doc_id, 2, '密売' FROM w
         |  UNION ALL SELECT doc_id, 4, '根こそぎ' FROM w
         |  UNION ALL SELECT doc_id, 5, '絶やさ' FROM w
         |  UNION ALL SELECT doc_id, 6, 'なけれ' FROM w
         |  UNION ALL SELECT doc_id, 10, CAST(doc_id AS VARCHAR) FROM w
         |) ORDER BY doc_id, pos""".stripMargin,

    // Segmented-token statistics: k repeats of the 6-word sentence
    "zh_token_stats" ->
      s"""SELECT doc_id,
         |       CAST(6 * (doc_id % 3 + 1) AS BIGINT) AS n_tokens,
         |       CAST(6 AS BIGINT) AS n_distinct
         |FROM documents WHERE lang = 'en' AND doc_id % 11 = 6
         |ORDER BY doc_id""".stripMargin,

    // Segmented-Japanese statistics: each repetition of the sentence
    // yields 5 post-stop terms (麻薬 密売 根こそぎ
    // 絶やさ なけれ; の/は/ば/なら/ない stopped),
    // identical across repetitions
    "ja_token_stats" ->
      s"""SELECT doc_id,
         |       CAST(5 * (doc_id % 3 + 1) AS BIGINT) AS n_tokens,
         |       CAST(5 AS BIGINT) AS n_distinct
         |FROM documents WHERE lang = 'en' AND doc_id % 11 = 7
         |ORDER BY doc_id""".stripMargin,

    // Hyphenation-grammar compounds: only læsehest decomposes (læse +
    // hest at its position); everything else passes through
    "ft_compound_hyph" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1
         |           FROM documents WHERE lang = 'en' AND doc_id % 7 = 4)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'min' AS term FROM w
         |  UNION ALL SELECT doc_id, 1, 'veninde' FROM w
         |  UNION ALL SELECT doc_id, 2, 'som' FROM w
         |  UNION ALL SELECT doc_id, 3, 'er' FROM w
         |  UNION ALL SELECT doc_id, 4, 'lidt' FROM w
         |  UNION ALL SELECT doc_id, 5, 'af' FROM w
         |  UNION ALL SELECT doc_id, 6, 'en' FROM w
         |  UNION ALL SELECT doc_id, 7, 'læsehest' FROM w
         |  UNION ALL SELECT doc_id, 7, 'læse' FROM w
         |  UNION ALL SELECT doc_id, 7, 'hest' FROM w
         |  UNION ALL SELECT doc_id, 8, w1 FROM w
         |) ORDER BY doc_id, pos, term""".stripMargin,

    // Hunspell simple.aff fixture: mahoute->mahout, solr->olr (prefix),
    // foos->foo, lucene->{lucene,lucen} (homonym stem + affix stem), and
    // the out-of-dictionary corpus word passes through
    "analysis_hunspell" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1
         |           FROM documents WHERE lang = 'en' AND doc_id % 7 = 3)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'mahout' AS term FROM w
         |  UNION ALL SELECT doc_id, 1, 'olr' FROM w
         |  UNION ALL SELECT doc_id, 2, 'foo' FROM w
         |  UNION ALL SELECT doc_id, 3, 'lucene' FROM w
         |  UNION ALL SELECT doc_id, 3, 'lucen' FROM w
         |  UNION ALL SELECT doc_id, 4, w1 FROM w
         |) ORDER BY doc_id, pos, term""".stripMargin,

    // Thai segmentation of the fixed sentence is the reference's
    // TestThaiAnalyzer vector; the trailing corpus word lands at pos 8
    "analysis_thai" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1
         |           FROM documents WHERE lang = 'en' AND doc_id % 5 = 2)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'การ' AS term FROM w
         |  UNION ALL SELECT doc_id, 1, 'ที่' FROM w
         |  UNION ALL SELECT doc_id, 2, 'ได้' FROM w
         |  UNION ALL SELECT doc_id, 3, 'ต้อง' FROM w
         |  UNION ALL SELECT doc_id, 4, 'แสดง' FROM w
         |  UNION ALL SELECT doc_id, 5, 'ว่า' FROM w
         |  UNION ALL SELECT doc_id, 6, 'งาน' FROM w
         |  UNION ALL SELECT doc_id, 7, 'ดี' FROM w
         |  UNION ALL SELECT doc_id, 8, w1 FROM w
         |) ORDER BY doc_id, pos""".stripMargin,

    // Morfologik lemma fan-out: Liście -> 4 lemmas (lowercase-fallback
    // lookup), danych -> 4 lemmas, keyword-marked corpus word untouched
    "analysis_morfologik" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1
         |           FROM documents WHERE lang = 'en' AND doc_id % 7 = 5)
         |SELECT doc_id, pos, term FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'liście' AS term FROM w
         |  UNION ALL SELECT doc_id, 0, 'liść' FROM w
         |  UNION ALL SELECT doc_id, 0, 'list' FROM w
         |  UNION ALL SELECT doc_id, 0, 'lista' FROM w
         |  UNION ALL SELECT doc_id, 1, 'dany' FROM w
         |  UNION ALL SELECT doc_id, 1, 'dana' FROM w
         |  UNION ALL SELECT doc_id, 1, 'dane' FROM w
         |  UNION ALL SELECT doc_id, 1, 'dać' FROM w
         |  UNION ALL SELECT doc_id, 2, w1 FROM w
         |) ORDER BY doc_id, pos, term""".stripMargin,

    "analysis_classic" ->
      s"""WITH w AS (SELECT doc_id, split_part(text, ' ', 1) AS w1,
         |                  split_part(text, ' ', 2) AS w2
         |           FROM documents WHERE lang = 'en' AND doc_id % 3 = 1)
         |SELECT doc_id, pos, term, typ FROM (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS pos, 'at&t' AS term,
         |         '<COMPANY>' AS typ FROM w
         |  UNION ALL SELECT doc_id, 1, w1, '<APOSTROPHE>' FROM w
         |  UNION ALL SELECT doc_id, 2, 'usa', '<ACRONYM>' FROM w
         |  UNION ALL SELECT doc_id, 3, w2 || '.example.org', '<HOST>' FROM w
         |  UNION ALL SELECT doc_id, 4, '1-2-3', '<NUM>' FROM w
         |  UNION ALL SELECT doc_id, 5, w1, '<ALPHANUM>' FROM w
         |  UNION ALL SELECT doc_id, 6, 'x', '<ALPHANUM>' FROM w)
         |ORDER BY doc_id, pos""".stripMargin,

    // TextProfileSignature: quantized term-frequency profile md5
    // (ties in the count sort break by term asc — see Dedup scaladoc)
    "dedup_signature" ->
      s"""WITH $tokAllCte,
         |t3 AS (SELECT doc_id AS id, term FROM tokall WHERE length(term) > 2),
         |cnt AS (SELECT id, term, count(*) AS cnt FROM t3 GROUP BY 1, 2),
         |mx AS (SELECT id, max(cnt) AS mxf FROM cnt GROUP BY 1),
         |qn AS (SELECT id, CASE WHEN CAST(round(mxf * 0.01) AS BIGINT) < 2
         |              THEN CASE WHEN mxf > 1 THEN 2 ELSE 1 END
         |              ELSE CAST(round(mxf * 0.01) AS BIGINT) END AS quant
         |       FROM mx),
         |qq AS (SELECT c.id, c.term, (c.cnt // q.quant) * q.quant AS qcnt,
         |              q.quant
         |       FROM cnt c JOIN qn q ON q.id = c.id)
         |SELECT id, md5(string_agg(term || ' ' || qcnt, chr(10)
         |                          ORDER BY qcnt DESC, term)) AS sig
         |FROM qq WHERE qcnt >= quant GROUP BY id ORDER BY id""".stripMargin,

    // Gopher repetition: duplicate bigram/trigram fraction per doc
    "quality_repetition" ->
      s"""WITH $tokAllCte,
         |g2 AS (SELECT a.doc_id AS id, count(*) AS t,
         |         count(DISTINCT a.term || ' ' || b.term) AS d
         |       FROM tokall a
         |       JOIN tokall b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |       GROUP BY 1),
         |g3 AS (SELECT a.doc_id AS id, count(*) AS t,
         |         count(DISTINCT a.term || ' ' || b.term || ' ' || c.term) AS d
         |       FROM tokall a
         |       JOIN tokall b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |       JOIN tokall c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
         |       GROUP BY 1)
         |SELECT d0.doc_id AS id,
         |  round(1.0 - CAST(g2.d AS DOUBLE) / g2.t, 6) AS dup2_frac,
         |  round(1.0 - CAST(g3.d AS DOUBLE) / g3.t, 6) AS dup3_frac
         |FROM documents d0
         |JOIN g2 ON g2.id = d0.doc_id JOIN g3 ON g3.id = d0.doc_id
         |ORDER BY id""".stripMargin,

    "ann_matryoshka" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |t AS (SELECT vec_id, v[1:16] AS tv FROM e),
         |q AS (SELECT tv AS qv FROM t WHERE vec_id = 0),
         |scp AS (SELECT vec_id AS id,
         |          list_dot_product(tv, qv) /
         |            (sqrt(list_dot_product(tv, tv)) * sqrt(list_dot_product(qv, qv))) AS sim
         |        FROM t, q WHERE vec_id <> 0)
         |SELECT CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rank,
         |       id, round(sim, 6) AS sim
         |FROM scp ORDER BY sim DESC, id LIMIT 10""".stripMargin,

    // recip(ms(NOW,ts), 3.16e-11, 1, 1) recency boost
    "func_recency" ->
      s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS nowms FROM events)
         |SELECT event_id, round(score, 6) AS score FROM (
         |  SELECT event_id,
         |    value * (1.0 / (3.16e-11 * CAST(nowms - epoch_ms(ts) AS DOUBLE) + 1.0)) AS score
         |  FROM events, mx)
         |ORDER BY score DESC, event_id LIMIT 20""".stripMargin,

    "block_join_facet" ->
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
         |FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l
         |  WHERE l.l_orderkey = o.o_orderkey
         |    AND l.l_quantity >= 50 AND l.l_returnflag = 'R')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "join_score_min" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY score DESC, c_custkey) AS BIGINT) AS rank,
         |       c_custkey, score FROM (
         |  SELECT c_custkey, min(o_totalprice) AS score
         |  FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY 1)
         |ORDER BY score DESC, c_custkey LIMIT 10""".stripMargin,

    "geo_polygon" ->
      s"""WITH $geoPtsCte
         |SELECT c_custkey FROM pts
         |WHERE ${polygonPred(graft.operators.Geo.EuropePoly, "lat", "lon")}
         |ORDER BY c_custkey""".stripMargin,

    // hl.snippets=2: second occurrence located relative to the first
    "ft_highlight_multi" ->
      s"""${bm25With("('vector')")},
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id),
         |top3 AS (SELECT doc_id FROM agg
         |         ORDER BY round(score, 9) DESC, doc_id LIMIT 3),
         |wp AS (SELECT d.doc_id, d.text,
         |         strpos(lower(d.text), 'vector') AS p1,
         |         strpos(substr(lower(d.text), strpos(lower(d.text), 'vector') + 1,
         |                length(lower(d.text))), 'vector') AS q2
         |       FROM documents d JOIN top3 t ON t.doc_id = d.doc_id)
         |SELECT doc_id, frag, pos, snippet FROM (
         |  SELECT doc_id, CAST(1 AS BIGINT) AS frag, CAST(p1 AS BIGINT) AS pos,
         |    substr(text, CAST(greatest(1, p1 - 15) AS BIGINT), 40) AS snippet
         |  FROM wp
         |  UNION ALL
         |  SELECT doc_id, CAST(2 AS BIGINT), CAST(p1 + q2 AS BIGINT),
         |    substr(text, CAST(greatest(1, p1 + q2 - 15) AS BIGINT), 40)
         |  FROM wp WHERE q2 > 0)
         |ORDER BY doc_id, frag""".stripMargin,

    // index-sorted early termination: the per-segment LIMIT-k union must
    // reproduce exactly the globally sorted top-k
    "ft_sorted_early" ->
      s"""SELECT doc_id, n_chars FROM documents
         |ORDER BY n_chars DESC, doc_id LIMIT 15""".stripMargin,

    "corpus_stats" ->
      s"""WITH $tokensCte,
         |t AS (SELECT lang, count(*) AS n_tok, count(DISTINCT term) AS vocab
         |      FROM tokens GROUP BY 1),
         |d AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1)
         |SELECT d.lang, CAST(d.n_docs AS BIGINT) AS n_docs,
         |       CAST(t.n_tok AS BIGINT) AS n_tok,
         |       CAST(t.vocab AS BIGINT) AS vocab,
         |       round(CAST(t.n_tok AS DOUBLE) / d.n_docs, 4) AS mean_dl
         |FROM d JOIN t USING (lang) ORDER BY lang""".stripMargin,

    // unigram-LM doc scoring in exact integer micro-nats
    "lm_logprob" ->
      s"""WITH $tokAllCte,
         |lmc AS (SELECT term, count(*) AS cnt FROM tokall GROUP BY 1),
         |tot AS (SELECT count(*) AS t FROM tokall),
         |mic AS (SELECT term,
         |          CAST(round(ln(CAST(cnt AS DOUBLE) / t) * 1000000.0) AS BIGINT) AS micro
         |        FROM lmc, tot)
         |SELECT ta.doc_id AS id, CAST(count(*) AS BIGINT) AS n_tok,
         |       CAST(sum(m.micro) AS BIGINT) AS sum_micro
         |FROM tokall ta JOIN mic m ON m.term = ta.term
         |GROUP BY 1 ORDER BY id""".stripMargin,

    // Solr atomic updates: independent re-derivation of the list surgery
    // (add appends; remove drops the FIRST occurrence via an occurrence
    // window; removeregex drops ALL values the pattern FULLY matches)
    "update_atomic" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |         ['alpha', lang, source, lang, 'extra', 'extra2', lang]
         |           AS tags,
         |         lang AS rmv
         |  FROM documents WHERE doc_id % 7 = 3),
         |ex AS (
         |  SELECT doc_id, unnest(tags) AS v,
         |         generate_subscripts(tags, 1) AS i, rmv FROM aug),
         |marked AS (
         |  SELECT doc_id, v, i, rmv,
         |         row_number() OVER (PARTITION BY doc_id, v ORDER BY i)
         |           AS occ
         |  FROM ex),
         |kept AS (
         |  SELECT doc_id, v, i FROM marked
         |  WHERE NOT (v = rmv AND occ = 1)
         |    AND NOT regexp_full_match(v, 'ex.*')),
         |tagstr AS (
         |  SELECT doc_id, string_agg(v, ',' ORDER BY i) AS tags
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN d.doc_id % 7 = 3 THEN 'xx' ELSE d.lang END AS lang,
         |  CAST(CASE WHEN d.doc_id % 7 = 3 THEN d.n_chars + 7
         |            ELSE d.n_chars END AS BIGINT) AS n_chars,
         |  COALESCE(t.tags,
         |    'alpha,' || d.lang || ',' || d.source || ',' || d.lang) AS tags
         |FROM documents d LEFT JOIN tagstr t USING (doc_id)
         |UNION ALL
         |SELECT CAST(9000000000 + k AS BIGINT) AS doc_id, 'new' AS lang,
         |       CAST(5 AS BIGINT) AS n_chars, 'a' AS tags
         |FROM range(1, 4) r(k)
         |ORDER BY doc_id""".stripMargin,

    // Update-processor chain: each stage re-derived arithmetically.
    // trim->removeBlank->uniq->concat over ['  lang ', '', 'src:SRC',
    // lang, 'x'] collapses to 'lang, src:SRC, x'; the all-or-none parse
    // is poisoned on every 10th doc ('x' appended) -> -1 sentinel; the
    // URL classifier's five shape cases (landing '/', index.html,
    // query'd page, bare host, dot-dot-normalized welcome.php) map to
    // constant per-case classifications.
    "update_chain" ->
      s"""WITH u AS (
         |  SELECT doc_id, lang, source, n_chars,
         |         'http://ex' || CAST(doc_id % 50 AS VARCHAR) || '.com'
         |           AS base,
         |         doc_id % 5 AS c
         |  FROM documents)
         |SELECT doc_id,
         |  lang || ', src:' || source || ', x' AS tags,
         |  CAST(CASE WHEN doc_id % 10 = 0 THEN -1 ELSE n_chars END
         |       AS BIGINT) AS parsed_n,
         |  md5('lang' || lang || 'source' || source) AS sig,
         |  CAST(length(base || CASE c WHEN 0 THEN '/'
         |    WHEN 1 THEN '/a/index.html'
         |    WHEN 2 THEN '/a/b/page.htm?q=1'
         |    WHEN 3 THEN ''
         |    ELSE '/research/welcome.php' END) AS INT) AS url_length,
         |  CAST(CASE c WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3
         |              WHEN 3 THEN 0 ELSE 1 END AS INT) AS url_levels,
         |  CAST(CASE c WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 4 THEN 1
         |              ELSE 0 END AS INT) AS url_landing,
         |  CAST(CASE c WHEN 0 THEN 1 WHEN 3 THEN 1 ELSE 0 END
         |       AS INT) AS url_toplevel,
         |  base || CASE c WHEN 0 THEN '/'
         |    WHEN 1 THEN '/a/'
         |    WHEN 2 THEN '/a/b/page.htm?q=1'
         |    WHEN 3 THEN ''
         |    ELSE '/research/' END AS url_canonical
         |FROM u ORDER BY doc_id""".stripMargin,

    // ---------- multi-valued sort selectors ----------

    // SortedNumericSelector MIN/MAX over each user's event values;
    // SortedSetSelector MIDDLE_MIN/MIDDLE_MAX over the deduplicated
    // sorted event-type set (lower middle at ord (n-1)/2, higher at n/2)
    "sort_multival" ->
      s"""WITH agg AS (
         |  SELECT user_id,
         |         round(min(value), 9) AS num_min,
         |         round(max(value), 9) AS num_max,
         |         list_sort(list(DISTINCT event_type)) AS types
         |  FROM events GROUP BY user_id),
         |sel AS (
         |  SELECT user_id, num_min, num_max,
         |         types[CAST((len(types)-1)//2 AS BIGINT) + 1] AS set_mid_min,
         |         types[CAST(len(types)//2 AS BIGINT) + 1] AS set_mid_max
         |  FROM agg)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (
         |      ORDER BY set_mid_min ASC, num_max DESC, user_id) AS BIGINT)
         |      AS rank,
         |    user_id, set_mid_min, set_mid_max, num_min, num_max
         |  FROM sel) t
         |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // ---------- payload functions / payload-check spans ----------

    // Min/MaxPayloadFunction over the same pos<20 payload channel
    "ft_payload_minmax" ->
      s"""WITH $tokensCte,
         |pay AS (SELECT doc_id,
         |          min(CASE WHEN pos < 20 THEN CAST(2.0 AS DOUBLE)
         |              ELSE CAST(1.0 AS DOUBLE) END) AS pay_min,
         |          max(CASE WHEN pos < 20 THEN CAST(2.0 AS DOUBLE)
         |              ELSE CAST(1.0 AS DOUBLE) END) AS pay_max
         |        FROM tokens WHERE term = 'spark' GROUP BY doc_id)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (
         |      ORDER BY pay_max DESC, pay_min DESC, doc_id) AS BIGINT)
         |      AS rank, doc_id, pay_min, pay_max
         |  FROM pay) t
         |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // SpanPayloadCheckQuery: 'batch' occurrences whose payload list
    // equals [2.0] — i.e. position inside the 20-token lead window
    "ft_span_paycheck" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE term = 'batch' AND pos < 20 ORDER BY doc_id""".stripMargin,

    // SpanNearPayloadCheckQuery: greedy ordered table->scan chain (scan =
    // smallest position after the table occurrence), width - 2 <= slop(2),
    // both matched positions inside the lead window
    "ft_span_near_paycheck" ->
      s"""WITH $tokensCte,
         |pairs AS (
         |  SELECT a.doc_id, a.pos AS ap, min(b.pos) AS bp
         |  FROM tokens a JOIN tokens b ON a.doc_id = b.doc_id
         |   AND b.term = 'scan' AND b.pos > a.pos
         |  WHERE a.term = 'table' GROUP BY a.doc_id, a.pos)
         |SELECT DISTINCT doc_id FROM pairs
         |WHERE (bp - ap + 1) - 2 <= 2 AND ap < 20 AND bp < 20
         |ORDER BY doc_id""".stripMargin,

    // ---------- legacy suggester lookups + dictionary sources ----------

    // TSTLookup onlyMorePopular: top-10 by the injective df-major weight
    // (weight = df * 2^20 + (2^20 - lexicographic rank within the df
    // group)), i.e. order (df desc, term asc) among 's'-prefix terms
    "suggest_tst" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |wd AS (SELECT term, df * 1048576 + (1048576 -
         |         CAST(row_number() OVER (PARTITION BY df ORDER BY term)
         |              AS BIGINT)) AS weight
         |       FROM dict)
         |SELECT CAST(row_number() OVER (ORDER BY weight DESC) AS BIGINT)
         |         AS rank, term, weight
         |FROM wd WHERE term LIKE 's%' ORDER BY rank LIMIT 10""".stripMargin,

    // Jaspell plain mode: first 15 'co'-prefix terms lexicographically
    "suggest_jaspell" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term)
         |SELECT CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS rank,
         |       term, df AS weight
         |FROM dict WHERE term LIKE 'co%' ORDER BY rank LIMIT 15""".stripMargin,

    // Jaspell onlyMorePopular quirk: rank only the first num*2 = 10
    // lexicographic prefix matches by weight, take 5
    "suggest_jaspell_pop" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |wd AS (SELECT term, df * 1048576 + (1048576 -
         |         CAST(row_number() OVER (PARTITION BY df ORDER BY term)
         |              AS BIGINT)) AS weight
         |       FROM dict),
         |cand AS (SELECT term, weight FROM wd WHERE term LIKE 's%'
         |         ORDER BY term LIMIT 10)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY weight DESC) AS BIGINT)
         |           AS rank, term, weight FROM cand) t
         |WHERE rank <= 5 ORDER BY rank""".stripMargin,

    // HighFrequencyDictionary: df >= (int)(0.10f * numDocs) (float
    // truncation), weight = df; WFST completion order (weight desc, term)
    "suggest_highfreq" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |         FROM tokens GROUP BY term),
         |n AS (SELECT count(*) AS nd FROM documents),
         |hf AS (SELECT term AS surface, df AS weight FROM dict, n
         |       WHERE df >= CAST(trunc(CAST(0.10 AS REAL) * CAST(nd AS REAL))
         |                        AS BIGINT))
         |SELECT surface, weight FROM hf WHERE surface LIKE 'c%'
         |ORDER BY weight DESC, surface LIMIT 10""".stripMargin,

    // DocumentDictionary -> analyzing suggester: per-surface dedup keeps
    // the max weight; exact surface first, then weight desc
    "suggest_document" ->
      s"""WITH d AS (SELECT source AS surface,
         |             CAST(max(n_chars) AS BIGINT) AS weight
         |           FROM documents GROUP BY source)
         |SELECT surface, weight FROM d WHERE surface LIKE 'src1%'
         |ORDER BY (surface = 'src1') DESC, weight DESC, surface
         |LIMIT 8""".stripMargin,

    // FileDictionary parse re-derived from the same raw lines: <=3
    // tab-split fields; long weight with a truncated-double fallback;
    // bare term -> weight 1
    "suggest_file" ->
      s"""WITH lines(l) AS (VALUES
         |  ('foo' || chr(9) || '34'),
         |  ('bar' || chr(9) || '12.7' || chr(9) || 'BAR'),
         |  ('turbo'),
         |  ('spartan' || chr(9) || '5000000000'),
         |  ('spark' || chr(9) || '9e2'),
         |  ('spa' || chr(9) || '77' || chr(9) || 'SPA')),
         |f AS (SELECT string_split(l, chr(9)) AS p FROM lines),
         |parsed AS (SELECT p[1] AS surface,
         |  CASE WHEN len(p) >= 2 THEN
         |    coalesce(TRY_CAST(p[2] AS BIGINT),
         |             CAST(trunc(CAST(p[2] AS DOUBLE)) AS BIGINT))
         |  ELSE CAST(1 AS BIGINT) END AS weight
         | FROM f)
         |SELECT surface, weight FROM parsed WHERE surface LIKE 'sp%'
         |ORDER BY weight DESC, surface LIMIT 10""".stripMargin,

    // ---------- rescore-by-sort / block-join sort / MLT-by-text ----------

    // SortRescorer: BM25 top-40 page re-sorted by (n_chars desc, doc_id)
    "ft_rescore_sort" ->
      s"""$bm25OrWith,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id),
         |page AS (SELECT doc_id FROM agg
         |         ORDER BY round(score, 9) DESC, doc_id LIMIT 40)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (
         |      ORDER BY d.n_chars DESC, p.doc_id) AS BIGINT) AS rank,
         |    p.doc_id
         |  FROM page p JOIN documents d ON d.doc_id = p.doc_id) t
         |WHERE rank <= 15 ORDER BY rank""".stripMargin,

    // BlockJoinComparatorSource: parents (orders) sorted by min child
    // (lineitem) price
    "block_join_sort" ->
      s"""WITH ch AS (
         |  SELECT o.o_orderkey, round(min(l.l_extendedprice), 4) AS child_min
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |  GROUP BY o.o_orderkey)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (
         |      ORDER BY child_min ASC, o_orderkey) AS BIGINT) AS rank,
         |    o_orderkey, child_min
         |  FROM ch) t
         |WHERE rank <= 15 ORDER BY rank""".stripMargin,

    // MLT over free text: tf from the literal text, df from the corpus,
    // same (tf desc, df asc, term) pick rule with df >= 2, top-5 BM25
    // disjunction
    "ft_mlt_text" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |qtext(w) AS (SELECT unnest(regexp_extract_all(
         |  'spark vector window merge stream batch spark vector spark',
         |  '[a-z0-9]+'))),
         |d0 AS (SELECT w AS term, count(*) AS tf FROM qtext GROUP BY w),
         |alldf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens
         |          GROUP BY term),
         |q AS (SELECT d0.term AS qterm FROM d0 JOIN alldf USING (term)
         |      WHERE alldf.df >= 2
         |      ORDER BY d0.tf DESC, alldf.df ASC, d0.term LIMIT 5),
         |$bm25ClauseCte,
         |agg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id)
         |${rankSel(10)}""".stripMargin,

    // Flexible StandardQueryParser: AND > OR precedence without parens,
    // NOT scoped to its conjunction -> (spark AND vector) OR
    // (window AND NOT python)
    "ft_flexible" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT d.doc_id FROM documents d
         |WHERE (${boolDoc("spark")} AND ${boolDoc("vector")})
         |   OR (${boolDoc("window")} AND NOT ${boolDoc("python")})
         |ORDER BY doc_id""".stripMargin,

    // PrecedenceQueryParser: (spark AND vector) OR window
    "ft_precedence" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM (
         |  SELECT a.doc_id
         |  FROM (SELECT DISTINCT doc_id FROM tokens WHERE term = 'spark') a
         |  JOIN (SELECT DISTINCT doc_id FROM tokens WHERE term = 'vector') b
         |    ON a.doc_id = b.doc_id
         |  UNION
         |  SELECT doc_id FROM tokens WHERE term = 'window') u
         |ORDER BY doc_id""".stripMargin,

    // MultiPassIndexSplitter assignment: ordinal j over doc_id order;
    // seq = floor(j / (n/3)) capped at part 2; rr = j % 3
    "split_multipass" ->
      s"""WITH ord AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT)
         |           AS j,
         |         (SELECT count(*) FROM documents) AS n
         |  FROM documents),
         |asg AS (
         |  SELECT 'seq' AS mode, doc_id,
         |         least(j // (n // 3), 2) AS part FROM ord
         |  UNION ALL
         |  SELECT 'rr' AS mode, doc_id, j % 3 AS part FROM ord)
         |SELECT mode, CAST(part AS BIGINT) AS part,
         |       CAST(count(*) AS BIGINT) AS cnt,
         |       min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM asg GROUP BY mode, part ORDER BY mode, part""".stripMargin,

    // PerFieldSimilarityWrapper: BM25(content 'spark') + Classic(rev:
    // twin — same tf/df/dl by the reversal bijection, single-clause
    // Classic collapses to sqrt(tf)*idf^2*qn*cnorm = sqrt(tf)*idf*cnorm)
    "ft_perfield_sim" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark')),
         |$bm25ClauseCte,
         |cl AS (SELECT tf.doc_id,
         |         sqrt(tf.tf) * (1 + ln(cs.n / (dfq.df + 1.0))) * nrm.cnorm
         |           AS s2
         |       FROM tf, dfq, dl, nrm, cs
         |       WHERE dfq.qterm = tf.qterm AND dl.doc_id = tf.doc_id
         |         AND dl.dl BETWEEN nrm.lo AND nrm.hi),
         |agg AS (SELECT sc.doc_id, sc.s + cl.s2 AS score
         |        FROM sc JOIN cl ON sc.doc_id = cl.doc_id)
         |SELECT CAST(row_number() OVER (
         |    ORDER BY round(score, 5) DESC, doc_id) AS BIGINT) AS rank, doc_id
         |FROM agg ORDER BY round(score, 5) DESC, doc_id LIMIT 15""".stripMargin,

    // NGramPhraseQuery: the FULL consecutive 2-gram phrase for 'window'
    // == substring containment in an analyzed token; the engine ran only
    // the sparse wi@0,nd@2,ow@4 pattern — equality proves the rewrite
    "ft_ngram_phrase" ->
      s"""WITH $tokensCte
         |SELECT DISTINCT doc_id FROM tokens
         |WHERE instr(term, 'window') > 0 ORDER BY doc_id""".stripMargin,

    // FSTCompletionLookup: bucket = (#entries with smaller weight)*10//N
    // (equal-weight run inherits its run-start bucket); popular order =
    // (bucket desc, term); exactMatchFirst promotes the exact surface
    "suggest_fst" ->
      s"""WITH $tokensCte,
         |dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS w
         |         FROM tokens GROUP BY term),
         |wc AS (SELECT w, count(*) AS c FROM dict GROUP BY w),
         |bk AS (SELECT w, CAST((coalesce(sum(c) OVER (ORDER BY w
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           * 10) // (SELECT count(*) FROM dict) AS BIGINT)
         |         AS bucket FROM wc),
         |m AS (SELECT term, bucket FROM dict JOIN bk ON bk.w = dict.w),
         |pop AS (SELECT 'pop' AS mode,
         |          CAST(row_number() OVER (ORDER BY bucket DESC, term)
         |               AS BIGINT) AS rank, term, bucket
         |        FROM m WHERE term LIKE 's%'),
         |ex AS (SELECT 'exact' AS mode,
         |         CAST(row_number() OVER (
         |           ORDER BY (term = 'spark') DESC, bucket DESC, term)
         |              AS BIGINT) AS rank, term, bucket
         |       FROM m WHERE term LIKE 'spark%')
         |SELECT mode, rank, term, bucket FROM (
         |  SELECT * FROM pop WHERE rank <= 10
         |  UNION ALL SELECT * FROM ex WHERE rank <= 5) t
         |ORDER BY mode, rank""".stripMargin,

    // ---------- training-pipeline: chunking + sequence packing ----------

    // sliding-window chunking: 40-token windows, stride 32, remainder tail
    "chunk_sliding" ->
      s"""WITH d AS (
         |  SELECT doc_id AS id,
         |    CAST(len(regexp_extract_all(text, '$TokRe')) AS BIGINT) AS n
         |  FROM documents WHERE doc_id % 17 = 0),
         |k AS (SELECT id, n,
         |        1 + CAST(ceil(greatest(n - 40, 0) / 32.0) AS BIGINT) AS k
         |      FROM d),
         |c AS (SELECT id, n, unnest(range(k)) AS chunk FROM k)
         |SELECT id, CAST(chunk AS BIGINT) AS chunk,
         |  CAST(chunk * 32 AS BIGINT) AS tok_start,
         |  CAST(least(chunk * 32 + 40, n) AS BIGINT) AS tok_end,
         |  CAST(least(chunk * 32 + 40, n) - chunk * 32 AS BIGINT) AS n_toks
         |FROM c ORDER BY id, chunk""".stripMargin,

    // GPT-style packing: per-source cumsum offsets, cut every 512 tokens
    "pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id AS id, source AS grp,
         |    CAST(len(regexp_extract_all(text, '$TokRe')) AS BIGINT) AS n
         |  FROM documents),
         |o AS (SELECT id, grp, n,
         |        CAST(coalesce(sum(n) OVER (PARTITION BY grp ORDER BY id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |             AS BIGINT) AS tok_start
         |      FROM d)
         |SELECT id, grp, n, tok_start,
         |  tok_start // 512 AS seq_first,
         |  CASE WHEN n > 0 THEN (tok_start + n - 1) // 512
         |       ELSE tok_start // 512 END AS seq_last,
         |  CAST(CASE WHEN n > 0 AND
         |         (tok_start + n - 1) // 512 <> tok_start // 512
         |       THEN 1 ELSE 0 END AS INT) AS split
         |FROM o ORDER BY grp, id""".stripMargin,

    // ---------- more ValueSourceParser functions ----------

    // mod / xor(odd-true) / e()*pi() / field() + bare true
    "func_scalar2" ->
      s"""SELECT p_partkey,
         |  CAST(p_size % 7 AS BIGINT) AS mod_fn,
         |  CAST(CASE WHEN (p_size % 2) <> 0 THEN 0 ELSE 1 END AS BIGINT)
         |    AS xor_fn,
         |  round(2.718281828459045 * 3.141592653589793, 6) AS epi,
         |  round(CAST(p_size AS DOUBLE) + CAST(1.0 AS DOUBLE), 6) AS fld
         |FROM part ORDER BY p_partkey LIMIT 150""".stripMargin,

    // ord / rord over the lang dictionary
    "func_ord" ->
      s"""WITH v AS (
         |  SELECT lang,
         |    CAST(dense_rank() OVER (ORDER BY lang) - 1 AS BIGINT) AS ord
         |  FROM (SELECT DISTINCT lang FROM documents)),
         |n AS (SELECT count(*) AS c FROM v)
         |SELECT doc_id, v.ord, CAST(n.c - v.ord - 1 AS BIGINT) AS rord
         |FROM documents d JOIN v USING (lang), n
         |ORDER BY doc_id LIMIT 300""".stripMargin,

    // docfreq/termfreq/tf/idf/norm/maxdoc/totaltermfreq for 'spark'
    "func_indexstats" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |tfq AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS termfreq
         |        FROM tokens WHERE term = 'spark' GROUP BY doc_id),
         |stq AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |          CAST(count(*) AS BIGINT) AS ttf
         |        FROM tokens WHERE term = 'spark')
         |SELECT t.doc_id, t.termfreq,
         |  round(sqrt(t.termfreq), 6) AS tf_sim,
         |  round(nrm.cnorm, 9) AS norm,
         |  stq.df AS docfreq, stq.ttf AS ttf,
         |  round(1 + ln((SELECT n FROM cs) / (stq.df + 1.0)), 6) AS idf,
         |  CAST((SELECT n FROM cs) AS BIGINT) AS maxdoc
         |FROM tfq t, dl, nrm, stq
         |WHERE dl.doc_id = t.doc_id AND dl.dl BETWEEN nrm.lo AND nrm.hi
         |ORDER BY t.doc_id""".stripMargin,

    // ---------- group.func / group.query ----------

    // group by a function value: mod(n_chars, 5); top-2 per group by
    // (n_chars desc, doc_id) + group size
    "group_func" ->
      s"""WITH g AS (
         |  SELECT doc_id, n_chars,
         |    CAST(n_chars % 5 AS BIGINT) AS grpval
         |  FROM documents),
         |sz AS (SELECT grpval, CAST(count(*) AS BIGINT) AS grp_size
         |       FROM g GROUP BY grpval),
         |r AS (SELECT grpval, doc_id,
         |        CAST(row_number() OVER (PARTITION BY grpval
         |          ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
         |      FROM g)
         |SELECT r.grpval, r.rank, r.doc_id, sz.grp_size
         |FROM r JOIN sz ON sz.grpval = r.grpval
         |WHERE r.rank <= 2 ORDER BY r.grpval, r.rank""".stripMargin,

    // group.query: each query is one group; top-3 single-term BM25 each
    "group_query" ->
      s"""$bm25OrWith,
         |g1 AS (SELECT 'spark' AS grp, doc_id,
         |         CAST(row_number() OVER (
         |           ORDER BY round(s, 9) DESC, doc_id) AS BIGINT) AS rank
         |       FROM sc WHERE qterm = 'spark'),
         |g2 AS (SELECT 'vector' AS grp, doc_id,
         |         CAST(row_number() OVER (
         |           ORDER BY round(s, 9) DESC, doc_id) AS BIGINT) AS rank
         |       FROM sc WHERE qterm = 'vector')
         |SELECT grp, rank, doc_id FROM (
         |  SELECT * FROM g1 WHERE rank <= 3
         |  UNION ALL SELECT * FROM g2 WHERE rank <= 3) t
         |ORDER BY grp, rank""".stripMargin,

    // nested subfacets: lang buckets -> top-2 source sub-buckets + metrics
    "facet_subfacet" ->
      s"""WITH lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS lang_cnt
         |            FROM documents GROUP BY lang),
         |sub AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt,
         |          CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |        FROM documents GROUP BY lang, source),
         |r AS (SELECT lang, source, cnt, sum_chars,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY cnt DESC, source) AS BIGINT) AS src_rank
         |      FROM sub)
         |SELECT r.lang, r.src_rank, r.source, r.cnt, r.sum_chars,
         |       lc.lang_cnt
         |FROM r JOIN lc ON lc.lang = r.lang
         |WHERE r.src_rank <= 2 ORDER BY r.lang, r.src_rank""".stripMargin,

    // eDisMax pf2/pf3: terms + adjacent-pair phrases + the triple, all
    // BM25-summed (phrase idf = sum of its terms' idfs, tf = chain count)
    "ft_edismax_pf23" ->
      s"""WITH $tokensCte,
         |$dlCsCte,
         |$normCte,
         |q(qterm) AS (VALUES ('spark'),('vector'),('window')),
         |$bm25ClauseCte,
         |idf1 AS (SELECT qterm, ln(1 + (cs.n - df + 0.5) / (df + 0.5)) AS v
         |         FROM dfq, cs),
         |p2a AS (SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS ptf
         |        FROM tokens t1 JOIN tokens t2
         |          ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |        WHERE t1.term = 'spark' AND t2.term = 'vector'
         |        GROUP BY t1.doc_id),
         |p2b AS (SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS ptf
         |        FROM tokens t1 JOIN tokens t2
         |          ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |        WHERE t1.term = 'vector' AND t2.term = 'window'
         |        GROUP BY t1.doc_id),
         |p3 AS (SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS ptf
         |       FROM tokens t1
         |       JOIN tokens t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |       JOIN tokens t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
         |       WHERE t1.term = 'spark' AND t2.term = 'vector'
         |         AND t3.term = 'window'
         |       GROUP BY t1.doc_id),
         |phall AS (
         |  SELECT doc_id, ptf,
         |    (SELECT sum(v) FROM idf1 WHERE qterm IN ('spark','vector')) AS pidf
         |  FROM p2a
         |  UNION ALL
         |  SELECT doc_id, ptf,
         |    (SELECT sum(v) FROM idf1 WHERE qterm IN ('vector','window'))
         |  FROM p2b
         |  UNION ALL
         |  SELECT doc_id, ptf, (SELECT sum(v) FROM idf1) FROM p3),
         |phs AS (SELECT phall.doc_id,
         |          phall.pidf * 2.2 * phall.ptf /
         |          (phall.ptf + 1.2 * (0.25 + 0.75 * nrm.qdl /
         |             (CAST(cs.sumdl AS DOUBLE) / cs.n))) AS s
         |        FROM phall, dl, nrm, cs
         |        WHERE dl.doc_id = phall.doc_id
         |          AND dl.dl BETWEEN nrm.lo AND nrm.hi),
         |agg AS (SELECT doc_id, sum(s) AS score FROM (
         |          SELECT doc_id, s FROM sc
         |          UNION ALL SELECT doc_id, s FROM phs)
         |        GROUP BY doc_id)
         |${rankSel(15)}""".stripMargin,

    // stats.facet: per-lang n_chars stats (sample stddev)
    "stats_facet" ->
      s"""SELECT lang,
         |  min(n_chars) AS mn, max(n_chars) AS mx,
         |  CAST(sum(n_chars) AS BIGINT) AS sm,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  round(avg(CAST(n_chars AS DOUBLE)), 6) AS mean,
         |  round(stddev_samp(CAST(n_chars AS DOUBLE)), 6) AS sd
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // AnalyticsComponent no-facet: population stddev (0 when n<=1),
    // split median over sorted values, SELECTION percentile
    // sorted[floor(p*n)], missing counted separately, plus the
    // ExpressionFactory algebra (add/div/log/pow/concat/rev/const).
    "analytics_stats" ->
      s"""WITH src AS (
         |  SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS v,
         |         lang
         |  FROM documents),
         |l AS (SELECT list(v ORDER BY v) AS lv
         |      FROM src WHERE v IS NOT NULL),
         |a AS (SELECT
         |  CAST(count(v) AS BIGINT) AS cnt,
         |  CAST(count(*) - count(v) AS BIGINT) AS miss,
         |  sum(CAST(v AS DOUBLE)) AS sm0,
         |  sum(CAST(v AS DOUBLE) * v) AS sumsq0,
         |  CAST(min(v) AS BIGINT) AS mn, CAST(max(v) AS BIGINT) AS mx,
         |  CAST(count(DISTINCT v) AS BIGINT) AS uniq,
         |  min(lang) AS lang_mn, max(lang) AS lang_mx,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS lang_uniq
         |  FROM src)
         |SELECT cnt, miss,
         |  round(sm0, 6) AS sm, round(sumsq0, 6) AS sumsq,
         |  round(sm0 / cnt, 6) AS mean,
         |  round(CASE WHEN cnt <= 1 THEN 0.0 ELSE
         |    sqrt(sumsq0 / cnt - (sm0 / cnt) * (sm0 / cnt)) END, 6) AS sd,
         |  mn, mx, uniq,
         |  round(0.5 * CAST(lv[CAST(floor(0.5 * (cnt - 1)) AS BIGINT) + 1]
         |        AS DOUBLE)
         |      + 0.5 * CAST(lv[CAST(floor(0.5 * (cnt - 1)) AS BIGINT)
         |          + CASE WHEN (cnt - 1) % 2 = 1 THEN 1 ELSE 0 END + 1]
         |        AS DOUBLE),
         |    6) AS med,
         |  CAST(lv[CAST(floor(0.2 * cnt) AS BIGINT) + 1] AS BIGINT) AS p20,
         |  CAST(lv[CAST(floor(0.5 * cnt) AS BIGINT) + 1] AS BIGINT) AS p50,
         |  CAST(lv[CAST(floor(0.8 * cnt) AS BIGINT) + 1] AS BIGINT) AS p80,
         |  lang_mn, lang_mx, lang_uniq,
         |  round(sm0 + 10, 6) AS e_add,
         |  round(sm0 / cnt, 6) AS e_div,
         |  round(ln(sm0 / cnt) / ln(2), 6) AS e_log,
         |  round(pow(lang_uniq, 2), 6) AS e_pow,
         |  'L:' || reverse(lang_mx) AS e_concat
         |FROM a, l""".stripMargin,

    // Analytics field facet: buckets sorted by ONE named stat (mean
    // desc), ties by facet value asc (the reference's stable sort over
    // TreeMap order), then offset 1 / limit 3.
    "analytics_fieldfacet" ->
      s"""WITH st AS (
         |  SELECT source AS bucket,
         |    CAST(count(n_chars) AS BIGINT) AS cnt,
         |    sum(CAST(n_chars AS DOUBLE)) AS sm0,
         |    sum(CAST(n_chars AS DOUBLE) * n_chars) AS sumsq0,
         |    list(n_chars ORDER BY n_chars) AS lv
         |  FROM documents GROUP BY source),
         |r AS (SELECT *,
         |  CAST(row_number() OVER (ORDER BY sm0 / cnt DESC, bucket ASC)
         |    AS BIGINT) AS rank FROM st)
         |SELECT rank, bucket, cnt,
         |  round(sm0 / cnt, 6) AS mean,
         |  round(CASE WHEN cnt <= 1 THEN 0.0 ELSE
         |    sqrt(sumsq0 / cnt - (sm0 / cnt) * (sm0 / cnt)) END, 6) AS sd,
         |  round(0.5 * CAST(lv[CAST(floor(0.5 * (cnt - 1)) AS BIGINT) + 1]
         |        AS DOUBLE)
         |      + 0.5 * CAST(lv[CAST(floor(0.5 * (cnt - 1)) AS BIGINT)
         |          + CASE WHEN (cnt - 1) % 2 = 1 THEN 1 ELSE 0 END + 1]
         |        AS DOUBLE),
         |    6) AS med,
         |  CAST(lv[CAST(floor(0.25 * cnt) AS BIGINT) + 1] AS BIGINT) AS p25
         |FROM r WHERE rank BETWEEN 2 AND 4 ORDER BY rank""".stripMargin,

    // Analytics range facet: the oracle re-derives the bucket layout
    // from the same request params — gap list [10,20] cycling with the
    // last gap repeating, soft end extension 80 -> 90, include=lower+edge
    // (upper edge closed only where hi = extended end), others=all over
    // the EXTENDED end (RangeEndpointCalculator.getRanges).
    "analytics_rangefacet" ->
      s"""WITH RECURSIVE buckets(idx, lo, hi) AS (
         |  SELECT 0, CAST(0.0 AS DOUBLE), CAST(10.0 AS DOUBLE)
         |  UNION ALL
         |  SELECT idx + 1, hi, hi + CAST(20.0 AS DOUBLE) FROM buckets WHERE hi < 80.0),
         |ext AS (SELECT max(hi) AS e FROM buckets),
         |assign AS (
         |  SELECT CAST(CAST(b.lo AS BIGINT) AS VARCHAR) AS bucket,
         |         ev.value AS v
         |  FROM buckets b, ext x, events ev
         |  WHERE ev.value >= b.lo
         |    AND (CASE WHEN b.hi = x.e THEN ev.value <= b.hi
         |              ELSE ev.value < b.hi END)
         |  UNION ALL
         |  SELECT 'before', value FROM events, ext WHERE value < 0.0
         |  UNION ALL
         |  SELECT 'after', value FROM events, ext WHERE value > e
         |  UNION ALL
         |  SELECT 'between', value FROM events, ext
         |  WHERE value >= 0.0 AND value <= e),
         |st AS (SELECT bucket,
         |  CAST(count(v) AS BIGINT) AS cnt,
         |  sum(v) AS sm0, sum(v * v) AS sumsq0,
         |  list(v ORDER BY v) AS lv
         |  FROM assign GROUP BY bucket)
         |SELECT bucket, cnt, round(sm0, 6) AS sm,
         |  round(sm0 / cnt, 6) AS mean,
         |  round(CASE WHEN cnt <= 1 THEN 0.0 ELSE
         |    sqrt(sumsq0 / cnt - (sm0 / cnt) * (sm0 / cnt)) END, 6) AS sd,
         |  round(0.5 * CAST(lv[CAST(floor(0.5 * (cnt - 1)) AS BIGINT) + 1]
         |        AS DOUBLE)
         |      + 0.5 * CAST(lv[CAST(floor(0.5 * (cnt - 1)) AS BIGINT)
         |          + CASE WHEN (cnt - 1) % 2 = 1 THEN 1 ELSE 0 END + 1]
         |        AS DOUBLE),
         |    6) AS med
         |FROM st ORDER BY bucket""".stripMargin,

    // Analytics query facet: each named query is a bucket; rows can fund
    // several buckets. Full stat set incl. median/selection-percentile.
    "analytics_queryfacet" ->
      s"""WITH assign AS (
         |  SELECT 'click' AS bucket, value AS v FROM events
         |  WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT 'high', value FROM events WHERE value > 250.0),
         |st AS (SELECT bucket,
         |  CAST(count(v) AS BIGINT) AS cnt,
         |  sum(v) AS sm0, sum(v * v) AS sumsq0,
         |  list(v ORDER BY v) AS lv
         |  FROM assign GROUP BY bucket)
         |SELECT bucket, cnt,
         |  round(sm0 / cnt, 6) AS mean,
         |  round(CASE WHEN cnt <= 1 THEN 0.0 ELSE
         |    sqrt(sumsq0 / cnt - (sm0 / cnt) * (sm0 / cnt)) END, 6) AS sd,
         |  round(0.5 * CAST(lv[CAST(floor(0.5 * (cnt - 1)) AS BIGINT) + 1]
         |        AS DOUBLE)
         |      + 0.5 * CAST(lv[CAST(floor(0.5 * (cnt - 1)) AS BIGINT)
         |          + CASE WHEN (cnt - 1) % 2 = 1 THEN 1 ELSE 0 END + 1]
         |        AS DOUBLE),
         |    6) AS med,
         |  round(lv[CAST(floor(0.1 * cnt) AS BIGINT) + 1], 6) AS p10,
         |  round(lv[CAST(floor(0.9 * cnt) AS BIGINT) + 1], 6) AS p90
         |FROM st ORDER BY bucket""".stripMargin,

    // DIH XPathEntityProcessor round-trip: the engine synthesizes one
    // XML doc per order from orders+lineitem, flattens it back through
    // the streaming XPath reader, and explodes the aligned multi-valued
    // item fields; the oracle re-derives the same rows relationally.
    "dih_xpath" ->
      s"""SELECT o.o_orderkey AS id, o.o_orderstatus AS status,
         |  l.l_partkey AS pid, CAST(l.l_linenumber AS BIGINT) AS ln,
         |  CAST(l.l_quantity AS BIGINT) AS qty
         |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderkey % 11 = 0""".stripMargin,

    // DIH line entity + transformer chain: line synthesis, accept/skip
    // find-rules, regex groupNames, date parse (minute-truncated epoch),
    // strict grouped-number parse, template label.
    "dih_transformers" ->
      s"""SELECT event_id AS id,
         |  CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS epoch,
         |  CAST(floor(value * 1000) AS BIGINT) AS amount_n,
         |  event_id || '#' || event_type AS label
         |FROM events WHERE event_type <> 'error'""".stripMargin,

    // Solr CSV loader pipeline: every emitted (field, pos, value) cell
    // re-derived relationally (split pieces, map rule, trim, rowid rank).
    "update_csv" ->
      s"""WITH d AS (SELECT doc_id, lang, source, n_chars,
         |  row_number() OVER (ORDER BY doc_id) AS rn
         |  FROM documents WHERE doc_id % 23 = 0)
         |SELECT doc_id, f.field, CAST(f.pos AS BIGINT) AS pos, f.value
         |FROM d, LATERAL (VALUES
         |  ('tags', 0, CASE WHEN lang = 'en' THEN 'english' ELSE lang END),
         |  ('tags', 1, source),
         |  ('nc', 0, CAST(n_chars AS VARCHAR)),
         |  ('row', 0, CAST(rn AS VARCHAR))) AS f(field, pos, value)
         |ORDER BY doc_id, field, pos""".stripMargin,

    // JSON split-mode flatten round-trip: one record per items element
    // with order-level commonFields; re-derived relationally.
    "update_json" ->
      s"""SELECT o.o_orderkey AS oid, o.o_orderstatus AS status,
         |  l.l_partkey AS pid, CAST(l.l_linenumber AS BIGINT) AS ln,
         |  CAST(l.l_quantity AS BIGINT) AS qty
         |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderkey % 7 = 0
         |ORDER BY oid, ln, pid""".stripMargin,

    // JSON command-mode parse: every add/delete command row re-derived.
    "update_json_cmds" ->
      s"""WITH e AS (SELECT event_id, event_type, user_id,
         |  CAST(floor(value * 100) AS BIGINT) AS vv
         |  FROM events WHERE event_id % 31 = 0)
         |SELECT 'delete' AS kind, event_id AS id,
         |  CAST(NULL AS VARCHAR) AS etype, CAST(NULL AS VARCHAR) AS tags,
         |  CAST(NULL AS DOUBLE) AS vboost, CAST(NULL AS BIGINT) AS vval
         |FROM e WHERE event_type = 'error'
         |UNION ALL
         |SELECT 'add', event_id, event_type,
         |  event_type || ',u' || user_id, 2.5, vv
         |FROM e WHERE event_type <> 'error'
         |ORDER BY kind, id""".stripMargin,

    // CSV response writer: line reconstructed per printer rules (mv cell
    // quoted for its embedded separator, trailing-space quoting, NA null).
    "wt_csv" ->
      s"""SELECT doc_id,
         |  CAST(doc_id AS VARCHAR) || ',"' || lang || ',' || source
         |    || '","' || source || ' ",NA' AS line
         |FROM documents WHERE doc_id % 19 = 0 ORDER BY doc_id""".stripMargin,

    // Analytics date_math chains: /UNIT rounding + interval arithmetic
    // incl. month-end clamping (2024-03-31 + 1 MONTH -> 04-30).
    "analytics_datemath" ->
      s"""SELECT event_type AS bucket,
         |  CAST(epoch(date_trunc('day', min(ts))) AS BIGINT) AS day_floor,
         |  CAST(epoch(date_trunc('hour', min(ts) + INTERVAL 2 MONTH))
         |    AS BIGINT) AS plus2m_hour,
         |  CAST(epoch(date_trunc('day', max(ts)) + INTERVAL 8 HOUR
         |    - INTERVAL 30 MINUTE) AS BIGINT) AS biz_open,
         |  CAST(epoch(date_trunc('day',
         |    TIMESTAMP '2024-03-31 23:59:58' + INTERVAL 1 MONTH))
         |    AS BIGINT) AS const_chain
         |FROM events GROUP BY event_type ORDER BY bucket""".stripMargin,

    // Real WAV codec round-trip: features recomputed from the PCM
    // waveform's closed form (engine features come from DECODED bytes).
    "multimodal_wav" ->
      s"""WITH ev AS (SELECT event_id AS id FROM events
         |           WHERE event_id % 29 = 0),
         |s AS (SELECT id, unnest(generate_series(0, 799)) AS i FROM ev),
         |x AS (SELECT id, i,
         |  CAST(((id * 31 + i * 7) % 2003 - 1001) * 16 AS BIGINT) AS v
         |  FROM s),
         |f AS (SELECT id, i, i // 200 AS frame_no, v,
         |  lag(v) OVER (PARTITION BY id ORDER BY i) AS pv FROM x)
         |SELECT id, CAST(frame_no AS BIGINT) AS frame_no,
         |  round(sqrt(sum((v / 32768.0) * (v / 32768.0)) / 200), 6) AS rms,
         |  CAST(count(*) FILTER (WHERE i % 200 <> 0 AND v * pv < 0)
         |    AS BIGINT) AS zc
         |FROM f GROUP BY id, frame_no ORDER BY id, frame_no""".stripMargin,

    // Real BMP codec round-trip: channel means + nearest-neighbor 3x3
    // resize checksum from the pixel formulas (resize indices: sx = 3x,
    // sy = floor(7y/3) -> y in {0,2,4}).
    "multimodal_bmp" ->
      s"""WITH d AS (SELECT doc_id AS id FROM documents
         |           WHERE doc_id % 17 = 0),
         |px AS (SELECT id, unnest(generate_series(0, 8)) AS x FROM d),
         |pxy AS (SELECT id, x, unnest(generate_series(0, 6)) AS y
         |        FROM px),
         |c AS (SELECT id, x, y,
         |  (id + 3 * x + 5 * y) % 256 AS r,
         |  (id * 2 + x + 7 * y) % 256 AS g,
         |  (x * y + id) % 256 AS b FROM pxy)
         |SELECT id,
         |  round(sum(r) / 63.0, 6) AS mean_r,
         |  round(sum(g) / 63.0, 6) AS mean_g,
         |  round(sum(b) / 63.0, 6) AS mean_b,
         |  CAST(sum(CASE WHEN x IN (0, 3, 6) AND y IN (0, 2, 4)
         |    THEN r * 65536 + g * 256 + b ELSE 0 END) AS BIGINT)
         |    AS rz_checksum
         |FROM c GROUP BY id ORDER BY id""".stripMargin,

    // Deterministic domain mixing: re-derive the per-class ppm from the
    // same weights + counts with the same left-associated double math,
    // then the same multiplicative-hash selection.
    "mix_domains" ->
      s"""WITH w(cls, wt) AS (VALUES
         |  ('src1', 0.5), ('src2', 0.25), ('src3', 0.125),
         |  ('src4', 0.125)),
         |n AS (SELECT source AS cls, CAST(count(*) AS DOUBLE) AS n
         |      FROM documents GROUP BY source),
         |j AS (SELECT w.cls, w.wt, n.n FROM w JOIN n USING (cls)
         |      WHERE w.wt > 0),
         |t AS (SELECT min(n / wt) AS t FROM j),
         |ppm AS (SELECT cls,
         |  CAST(floor(1000000.0 * wt * t / n) AS BIGINT) AS ppm
         |  FROM j, t)
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN ppm ON ppm.cls = d.source
         |WHERE ((d.doc_id % 1000000007) * 2654435761) % 1000000 < ppm.ppm
         |ORDER BY d.doc_id""".stripMargin,

    // Solr schema.xml binding: title_t copies to title_txt (glob
    // remainder subst) and, truncated to 30 chars, into the multiValued
    // catch-all together with the *_s fields (column order)
    "solr_schema" ->
      s"""SELECT doc_id AS id,
         |  substr(text, 1, 80) AS title_txt,
         |  concat_ws('|', substr(text, 1, 30), lang, source) AS catchall
         |FROM documents ORDER BY id""".stripMargin,

    // DIH delta import: full import = latest event per user at or before
    // last_index_time (max ts - 7 days); delta rows (newer) replace full
    // rows by key; new keys append. Mirrors the engine's tombstone+delta
    // merged view.
    "dih_delta" ->
      s"""WITH cut AS (SELECT max(ts) - INTERVAL 7 DAY AS c FROM events),
         |f AS (SELECT user_id, event_id FROM (
         |  SELECT user_id, event_id, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events, cut WHERE ts <= c) WHERE rn = 1),
         |d AS (SELECT user_id, event_id FROM (
         |  SELECT user_id, event_id, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events, cut WHERE ts > c) WHERE rn = 1)
         |SELECT
         |  lpad(CAST(COALESCE(d.user_id, f.user_id) AS VARCHAR), 9, '0')
         |    AS user_key,
         |  CAST(COALESCE(d.event_id, f.event_id) AS BIGINT) AS event_id,
         |  CASE WHEN d.user_id IS NOT NULL THEN 'delta' ELSE 'full' END
         |    AS src
         |FROM f FULL OUTER JOIN d ON f.user_id = d.user_id
         |ORDER BY user_key""".stripMargin,

    // DIH nested entities: child rows append multi-valued fields to the
    // parent in child iteration order (ordered by l_linenumber). The child
    // list is serialized to a CSV string: the driver's pandas comparator
    // cannot sort/hash array-typed cells.
    "dih_nested" ->
      s"""SELECT o.o_orderkey AS id, o.o_orderstatus AS status,
         |  COALESCE(array_to_string(l.parts, ','), '') AS parts,
         |  CAST(COALESCE(l.n, 0) AS BIGINT) AS n_items
         |FROM orders o LEFT JOIN (
         |  SELECT l_orderkey,
         |    list(l_partkey ORDER BY l_linenumber, l_partkey) AS parts,
         |    count(*) AS n
         |  FROM lineitem GROUP BY l_orderkey) l
         |ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderkey % 13 = 0
         |ORDER BY id""".stripMargin
  )
}
