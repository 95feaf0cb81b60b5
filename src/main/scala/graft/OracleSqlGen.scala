package graft

import graft.functions.DetHash
import graft.operators.{CorpusOps, Dedup, TextAnalysis}

/** DuckDB oracle-SQL builders for the dedup / similarity / text-analysis
  * operators.
  *
  * These SQL strings are generated from the SAME constants the Spark plans
  * use ([[DetHash]] minhash coefficients, SRP hyperplanes,
  * [[TextAnalysis.langMarkers]], …), so plan and oracle can never drift.
  * Everything is RE2-safe (no lookarounds) and uses only integer / IEEE
  * double math evaluated in the same order as the Spark expressions, so
  * results are bit-identical across engines.
  */
object OracleSqlGen {

  // ---------------------------------------------------------------- text

  /** normalizeText: lowercase, non-alnum runs → one space, trim (lockstep
    * with GraftFunctions.normalizeText).
    */
  def norm(c: String): String =
    s"trim(regexp_replace(lower($c), '[^a-z0-9]+', ' ', 'g'))"

  /** Whitespace tokens (empty strings filtered), matching
    * GraftFunctions.tokens.
    */
  def toks(c: String): String =
    s"""list_filter(string_split_regex($c, '\\s+'), t -> len(t) > 0)"""

  /** Word n-gram shingles (distinct) over the CTE's `tk` token column,
    * matching GraftFunctions.wordShingles: i in 0..max(len-n,0), n-token
    * slices.
    */
  def shingles(n: Int): String =
    s"""list_filter(list_distinct(list_transform(
       generate_series(0, greatest(len(tk) - $n, 0)),
       i -> array_to_string(list_slice(tk, i + 1, i + $n), ' '))), s -> len(s) > 0)"""
      .replaceAll("\n\\s*", " ")

  private def toksCte(table: String = "documents"): String =
    s"WITH t AS (SELECT doc_id, ${toks(norm("text"))} AS tk FROM $table)"

  def fingerprintsSql: String =
    s"SELECT doc_id, md5(${norm("text")}) AS fp FROM documents"

  /** Mirrors Dedup.incrementalIngest: new batch (doc_id % 10 >= 8)
    * anti-joined against the existing corpus' distinct fingerprints
    * (doc_id % 10 < 8), then keep-min within the batch. The oracle
    * doesn't model the persisted bucketed index — bucketing is physical
    * layout; the VALUES must be identical to this plain formulation.
    */
  def incrementalIngestSql: String =
    s"""WITH f AS (SELECT doc_id, md5(${norm("text")}) AS fp FROM documents),
        seen AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 8),
        batch AS (SELECT * FROM f WHERE doc_id % 10 >= 8)
        SELECT min(doc_id) AS doc_id, fp FROM batch
        WHERE fp NOT IN (SELECT fp FROM seen) GROUP BY fp"""

  def exactGroupsSql: String =
    s"""SELECT md5(${norm("text")}) AS fp, min(doc_id) AS keep_doc_id,
        count(*) AS dup_cnt FROM documents GROUP BY 1"""

  def exactDedupSql: String =
    s"""SELECT d.doc_id, d.lang, d.source FROM documents d
        JOIN (SELECT min(doc_id) AS doc_id
              FROM (SELECT doc_id, md5(${norm("text")}) AS fp FROM documents)
              GROUP BY fp) k USING (doc_id)"""

  def languageIdSql: String = {
    val markers = TextAnalysis.langMarkers
    val scores = markers.map { case (l, m) =>
      val lst = m.map(w => s"'${w}'").mkString(", ")
      s"len(list_filter(tk, x -> x IN ($lst))) AS score_$l"
    }.mkString(",\n          ")
    // argmax fold with declaration-order tie precedence — same fold shape
    // as TextAnalysis.languageId.
    val (lang, score) = markers.tail.foldLeft(
      (s"'${markers.head._1}'", s"score_${markers.head._1}")) {
      case ((bl, bs), (l, _)) =>
        (s"CASE WHEN score_$l > ($bs) THEN '$l' ELSE ($bl) END",
         s"CASE WHEN score_$l > ($bs) THEN score_$l ELSE ($bs) END")
    }
    s"""WITH t AS (SELECT doc_id, ${toks("lower(text)")} AS tk FROM documents),
        s AS (SELECT doc_id, $scores FROM t)
        SELECT doc_id, $lang AS pred_lang, CAST($score AS BIGINT) AS best_score FROM s"""
  }

  def qualitySql: String = {
    import graft.functions.GraftFunctions.stopwords
    val stops = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH r AS (SELECT doc_id,
          CAST(length(text) AS BIGINT) AS len_chars,
          CAST(len(${toks("text")}) AS BIGINT) AS n_tokens,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish_tokens,
          round(CASE WHEN length(text) = 0 THEN 0.0
            ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / length(text)::DOUBLE END, 6) AS punct_ratio,
          round(CASE WHEN length(text) = 0 THEN 0.0
            ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text)::DOUBLE END, 6) AS alpha_ratio,
          round(CASE WHEN len(${toks("lower(text)")}) = 0 THEN 0.0
            ELSE len(list_filter(${toks("lower(text)")}, x -> x IN ($stops)))::DOUBLE
                 / len(${toks("lower(text)")})::DOUBLE END, 6) AS stopword_ratio
        FROM documents)
        SELECT *, round(least(1.0, n_tokens::DOUBLE / 100.0) * 0.4
          + alpha_ratio * 0.4
          + (1.0 - least(1.0, punct_ratio * 5.0)) * 0.2, 6) AS quality FROM r"""
  }

  /** Mirrors TextAnalysis.winnowingFingerprints. */
  def winnowingSql(k: Int, w: Int): String =
    s"""WITH g AS (SELECT doc_id,
          list_filter(
            list_transform(
              generate_series(1, greatest(len(nrm) - ${k - 1}, 1)),
              i -> substr(nrm, i, $k)),
            s -> len(s) = $k) AS grams
          FROM (SELECT doc_id, ${norm("text")} AS nrm FROM documents)),
        h AS (SELECT doc_id,
          list_transform(grams, s -> ${base60("s")} % $P) AS hs FROM g)
        SELECT doc_id, array_to_string(
          list_sort(list_distinct(list_filter(
            list_transform(
              generate_series(0, greatest(len(hs) - $w, 0)),
              i -> list_min(list_slice(hs, i + 1, i + $w))),
            x -> x IS NOT NULL))), ',') AS fp_sig
        FROM h"""

  /** Mirrors Curation.curate: language+quality survivors (same expressions
    * as languageIdSql/qualitySql), then exact dedup keep-one over them.
    */
  def curateSql(lang: String, minQuality: Double): String =
    s"""WITH survivors AS (
          SELECT d.doc_id, d.lang, d.source, d.text
          FROM documents d
          JOIN ($languageIdSql) lid ON d.doc_id = lid.doc_id
          JOIN ($qualitySql) q ON d.doc_id = q.doc_id
          WHERE lid.pred_lang = '$lang' AND q.quality >= $minQuality)
        SELECT s.doc_id, s.lang, s.source FROM survivors s
        JOIN (SELECT min(doc_id) AS doc_id FROM
              (SELECT doc_id, md5(${norm("text")}) AS fp FROM survivors)
              GROUP BY fp) k ON s.doc_id = k.doc_id"""

  /** Mirrors CorpusOps.corpusStats: per-source datasheet from the same
    * sub-oracles (language-ID and quality CTEs re-used verbatim; the
    * token total sums the quality oracle's n_bpeish_tokens column).
    */
  def corpusStatsSql: String =
    s"""WITH j AS (
          SELECT d.source, q.quality, q.n_bpeish_tokens, lid.pred_lang
          FROM documents d
          JOIN ($languageIdSql) lid ON d.doc_id = lid.doc_id
          JOIN ($qualitySql) q ON d.doc_id = q.doc_id)
        SELECT source, count(*) AS n_docs,
          CAST(sum(n_bpeish_tokens) AS BIGINT) AS total_tokens,
          round(quantile_cont(quality, 0.5), 4) AS p50_quality,
          CAST(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
        FROM j GROUP BY source"""

  /** N-gram OCCURRENCE list over the `tk` column — [[shingles]] minus the
    * distinct (repetition signals measure multiplicity).
    */
  private def gramOccSql(n: Int): String =
    s"""CASE WHEN len(tk) < $n THEN []::VARCHAR[]
       ELSE list_transform(generate_series(0, len(tk) - $n),
         i -> array_to_string(list_slice(tk, i + 1, i + $n), ' ')) END"""
      .replaceAll("\n\\s*", " ")

  /** Mirrors TextAnalysis.repetitionSignals. The top-2-gram multiplicity
    * is counted directly per distinct gram here (equality-based), where
    * the Spark side counts the longest equal-run after a sort — the same
    * integer under any collation, so the ratio is bit-identical.
    */
  def repetitionSignalsSql: String =
    s"""WITH t AS (SELECT doc_id,
          list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
            l -> len(l) > 0) AS ln,
          ${toks(norm("text"))} AS tk
        FROM documents),
        g AS (SELECT doc_id, ln, ${gramOccSql(2)} AS g2, ${gramOccSql(3)} AS g3 FROM t),
        r AS (SELECT doc_id,
          CAST(len(ln) AS BIGINT) AS n_lines,
          round(CASE WHEN len(ln) = 0 THEN 0.0
            ELSE (len(ln) - len(list_distinct(ln)))::DOUBLE / len(ln)::DOUBLE END, 6) AS dup_line_frac,
          round(CASE WHEN len(g2) = 0 THEN 0.0
            ELSE list_max(list_transform(list_distinct(g2),
              d -> len(list_filter(g2, x -> x = d))))::DOUBLE / len(g2)::DOUBLE END, 6) AS top_2gram_frac,
          round(CASE WHEN len(g3) = 0 THEN 0.0
            ELSE (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)::DOUBLE END, 6) AS dup_3gram_frac
        FROM g)
        SELECT *, (dup_line_frac > 0.30 OR top_2gram_frac > 0.20
          OR dup_3gram_frac > 0.18) AS repetitive FROM r"""

  /** Mirrors CorpusOps.corpusStatsScalable: the datasheet with the
    * histogram-grid median (same scoring CTEs; the median is pure integer
    * cumulative-count logic over 1/grid quality cells, then one exact
    * division — no quantile_cont, no engine-specific sketch).
    */
  def corpusStatsScalableSql(grid: Int): String =
    s"""WITH j AS (
          SELECT d.source, q.quality, q.n_bpeish_tokens, lid.pred_lang
          FROM documents d
          JOIN ($languageIdSql) lid ON d.doc_id = lid.doc_id
          JOIN ($qualitySql) q ON d.doc_id = q.doc_id),
        base AS (SELECT source, count(*) AS n_docs,
          CAST(sum(n_bpeish_tokens) AS BIGINT) AS total_tokens,
          CAST(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
          FROM j GROUP BY source),
        h AS (SELECT source, CAST(floor(quality * $grid) AS BIGINT) AS cell,
          count(*) AS cnt FROM j GROUP BY 1, 2),
        c AS (SELECT source, cell,
          sum(cnt) OVER (PARTITION BY source ORDER BY cell) AS cum,
          sum(cnt) OVER (PARTITION BY source) AS total FROM h),
        m AS (SELECT source,
          min(CASE WHEN cum * 2 >= total THEN cell END) AS mcell
          FROM c GROUP BY source)
        SELECT base.source, n_docs, total_tokens,
          round(mcell::DOUBLE / $grid, 4) AS p50q_grid, n_en
        FROM base JOIN m ON base.source = m.source"""

  /** Mirrors CorpusOps.assemble — the composed curate → quota → split
    * chain, built from the same sub-oracles ([[languageIdSql]],
    * [[qualitySql]], [[hexCellSql]]) the per-stage queries use.
    */
  def assembleSql(lang: String, minQuality: Double, quota: Int,
                  evalRate: Double): String =
    s"""WITH survivors AS (
          SELECT d.doc_id, d.source, d.text, q.quality
          FROM documents d
          JOIN ($languageIdSql) lid ON d.doc_id = lid.doc_id
          JOIN ($qualitySql) q ON d.doc_id = q.doc_id
          WHERE lid.pred_lang = '$lang' AND q.quality >= $minQuality),
        kept AS (
          SELECT s.doc_id, s.source, s.quality FROM survivors s
          JOIN (SELECT min(doc_id) AS doc_id FROM
                (SELECT doc_id, md5(${norm("text")}) AS fp FROM survivors)
                GROUP BY fp) k ON s.doc_id = k.doc_id),
        r AS (SELECT doc_id, source, quality,
          row_number() OVER (PARTITION BY source
            ORDER BY quality DESC, doc_id) AS rk FROM kept)
        SELECT doc_id, source, quality, rk,
          CASE WHEN ${hexCellSql("split")} < '${CorpusOps.hexThreshold(evalRate)}'
               THEN 'eval' ELSE 'train' END AS split
        FROM r WHERE rk <= $quota"""

  def tokenHistogramSql: String =
    s"""SELECT CAST(floor(len(${toks("text")})::DOUBLE / 32) AS BIGINT) * 32 AS bucket,
        count(*) AS cnt FROM documents GROUP BY 1"""

  /** Mirrors TextAnalysis.tokenRarity: distinct tokens per doc, corpus
    * document frequencies, re-aggregated per doc. Tokenless docs drop out
    * of both engines identically (no unnest rows / no explode rows). The
    * mean is one IEEE divide + half-up round on both sides.
    */
  /** Mirrors TextAnalysis.unigramSurprisal: per-token logs quantized to
    * integer micro-nats before any aggregation, so the per-doc sums are
    * exact in both engines; one IEEE divide + round at the end. Sums cast
    * back to BIGINT (DuckDB widens sum(BIGINT) to HUGEINT).
    */
  def unigramSurprisalSql: String =
    s"""${toksCte()},
        o AS (SELECT doc_id, unnest(tk) AS tok FROM t),
        f AS (SELECT tok, count(*) AS tf FROM o GROUP BY tok),
        q AS (SELECT tok, CAST(floor(ln(tf::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qln_tf FROM f),
        tot AS (SELECT CAST(floor(ln(CAST(sum(tf) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS qln_total FROM f),
        d AS (SELECT doc_id, count(*) AS n_tokens,
          CAST(sum(qln_tf) AS BIGINT) AS sum_qln_tf
          FROM o JOIN q USING (tok) GROUP BY doc_id)
        SELECT doc_id, n_tokens,
          n_tokens * qln_total - sum_qln_tf AS nll_micro,
          round((n_tokens * qln_total - sum_qln_tf)::DOUBLE / n_tokens::DOUBLE / 1e6, 4) AS avg_nll
        FROM d CROSS JOIN tot"""

  /** Mirrors TextAnalysis.bigramSurprisal: transition counts + prefix
    * counts, micro-nat logs per model entry, exact per-doc integer sums.
    */
  def bigramSurprisalSql: String =
    s"""${toksCte()},
        o AS (SELECT doc_id, unnest(${gramOccSql(2)}) AS g FROM t),
        c2 AS (SELECT g, CAST(floor(ln(count(*)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qln_c2
          FROM o GROUP BY g),
        c1p AS (SELECT split_part(g, ' ', 1) AS prev,
          CAST(floor(ln(count(*)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qln_c1p
          FROM o GROUP BY split_part(g, ' ', 1)),
        d AS (SELECT doc_id, count(*) AS n_trans,
          CAST(sum(qln_c1p) AS BIGINT) AS s1, CAST(sum(qln_c2) AS BIGINT) AS s2
          FROM o JOIN c2 USING (g)
          JOIN c1p ON split_part(o.g, ' ', 1) = c1p.prev
          GROUP BY doc_id)
        SELECT doc_id, n_trans, s1 - s2 AS nll_micro,
          round((s1 - s2)::DOUBLE / n_trans::DOUBLE / 1e6, 4) AS avg_nll
        FROM d"""

  /** Mirrors TextAnalysis.tfidfKeywords: per-(doc, tok) term frequencies,
    * vocabulary-bounded document frequencies, micro-nat-quantized idf so
    * the `tf·idf` score is an exact integer in both engines; top-k per doc
    * by (score DESC, tok). Counts cast back to BIGINT (DuckDB widens).
    */
  def tfidfKeywordsSql(topK: Int): String =
    s"""${toksCte()},
        o AS (SELECT doc_id, unnest(tk) AS tok FROM t),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM o GROUP BY doc_id, tok),
        f AS (SELECT tok, count(*) AS df,
          CAST(floor(ln(count(*)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qln_df
          FROM tf GROUP BY tok),
        n AS (SELECT CAST(floor(ln(count(*)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qln_n
          FROM documents),
        s AS (SELECT doc_id, tok, tf, df, tf * (qln_n - qln_df) AS score_micro
          FROM tf JOIN f USING (tok) CROSS JOIN n),
        r AS (SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf,
          CAST(df AS BIGINT) AS df, CAST(score_micro AS BIGINT) AS score_micro,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score_micro DESC, tok) AS rk FROM s)
        SELECT doc_id, tok, tf, df, score_micro, CAST(rk AS BIGINT) AS rk
        FROM r WHERE rk <= $topK"""

  def tokenRaritySql: String =
    s"""${toksCte()},
        d AS (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM t),
        f AS (SELECT tok, count(*) AS df FROM d GROUP BY tok)
        SELECT doc_id, count(*) AS n_distinct, min(df) AS min_df,
          CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
          round(sum(df)::DOUBLE / count(*)::DOUBLE, 4) AS mean_df
        FROM d JOIN f USING (tok) GROUP BY doc_id"""

  /** Mirrors TextAnalysis.hashEmbeddingSketch: feature-hash dims/signs by
    * bit operations on the 60-bit md5 hash (integer-only — no double
    * division anywhere), signed counts per dim, zero-sum dims dropped,
    * canonical "dim:count" string ordered by dim.
    */
  def hashEmbeddingSketchSql(dims: Int): String = {
    val shift = java.lang.Integer.numberOfTrailingZeros(dims)
    s"""WITH tk AS (SELECT doc_id, unnest(${toks(norm("text"))}) AS t
          FROM documents),
        h AS (SELECT doc_id, ${base60("t")} AS h FROM tk),
        s AS (SELECT doc_id, (h & ${dims - 1}) AS dim,
          CASE WHEN ((h >> $shift) & 1) = 0 THEN 1 ELSE -1 END AS sgn FROM h),
        c AS (SELECT doc_id, dim, sum(sgn) AS c FROM s
          GROUP BY doc_id, dim HAVING sum(sgn) <> 0)
        SELECT doc_id,
          string_agg(dim || ':' || c, ',' ORDER BY dim) AS emb_sketch
        FROM c GROUP BY doc_id"""
  }

  /** Mirrors TextAnalysis.domainClassify: the sparse hashed-count chain
    * (same CTEs as [[hashEmbeddingSketchSql]]) joined against the
    * classes×dims integer weight matrix rendered as a VALUES relation
    * from the SAME [[DetHash.classifierWeight]] derivation the Spark
    * projection inlines as array literals — one source of truth, no
    * drift. Argmax by (score DESC, cls ASC) row_number; margin from the
    * lead() runner-up in the same ordering. All integer. Documents whose
    * counts all cancel have no sparse rows and are absent in both engines.
    */
  def domainClassifySql(dims: Int, classes: Int): String = {
    val shift = java.lang.Integer.numberOfTrailingZeros(dims)
    val w = (0 until classes).flatMap { c =>
      (0 until dims).map(d => s"($c,$d,${DetHash.classifierWeight(c, d)})")
    }.mkString(",")
    s"""WITH tk AS (SELECT doc_id, unnest(${toks(norm("text"))}) AS t
          FROM documents),
        h AS (SELECT doc_id, ${base60("t")} AS h FROM tk),
        s AS (SELECT doc_id, (h & ${dims - 1}) AS dim,
          CASE WHEN ((h >> $shift) & 1) = 0 THEN 1 ELSE -1 END AS sgn FROM h),
        c AS (SELECT doc_id, dim, sum(sgn) AS c FROM s
          GROUP BY doc_id, dim HAVING sum(sgn) <> 0),
        w(cls, dim, w) AS (VALUES $w),
        sc AS (SELECT doc_id, cls, CAST(sum(c * w) AS BIGINT) AS score
          FROM c JOIN w USING (dim) GROUP BY doc_id, cls),
        rk AS (SELECT doc_id, cls, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, cls) AS rn,
          lead(score) OVER (PARTITION BY doc_id
            ORDER BY score DESC, cls) AS nxt
          FROM sc)
        SELECT doc_id, CAST(cls AS INTEGER) AS cls, score,
          score - nxt AS margin
        FROM rk WHERE rn = 1"""
  }

  /** Mirrors Dedup.semanticPairs: feature-hash counts (same chain as
    * [[hashEmbeddingSketchSql]]) → banded-SRP candidates → exact-cosine
    * verify, all in sparse form. The ±1 plane weights inline as a VALUES
    * relation from the same DetHash derivations the fused Spark
    * expressions use. Everything stays integer until the final
    * √·√ division (IEEE sqrt is correctly rounded in both engines), so
    * scores are bit-identical. Docs whose counts all cancel have no
    * sparse rows here and pair with nothing; in Spark their all-zero
    * vectors yield NaN cosines, dropped by the threshold — same pairs.
    */
  def semanticPairsSql(bands: Int, planesPerBand: Int, dims: Int,
                       threshold: Double): String = {
    val shift = java.lang.Integer.numberOfTrailingZeros(dims)
    val weights = (0 until bands * planesPerBand).flatMap { p =>
      (0 until dims).map { d =>
        val w = if (DetHash.hyperplaneWeight(p, d) > 0) 1 else -1
        s"($p,$d,$w)"
      }
    }.mkString(",")
    s"""WITH tk AS (SELECT doc_id, unnest(${toks(norm("text"))}) AS t FROM documents),
        h AS (SELECT doc_id, ${base60("t")} AS h FROM tk),
        s AS (SELECT doc_id, (h & ${dims - 1}) AS dim,
          CASE WHEN ((h >> $shift) & 1) = 0 THEN 1 ELSE -1 END AS sgn FROM h),
        c AS (SELECT doc_id, dim, sum(sgn) AS c FROM s
          GROUP BY doc_id, dim HAVING sum(sgn) <> 0),
        w(p, dim, w) AS (VALUES $weights),
        dots AS (SELECT c.doc_id, w.p, sum(c.c * w.w) AS dot
          FROM c JOIN w ON c.dim = w.dim GROUP BY c.doc_id, w.p),
        bk AS (SELECT doc_id, p // $planesPerBand AS band,
          sum(CASE WHEN dot > 0 THEN 1 << (p % $planesPerBand) ELSE 0 END) AS bucket
          FROM dots GROUP BY doc_id, band),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
            AND x.doc_id < y.doc_id),
        nn AS (SELECT doc_id, sum(c * c) AS n2 FROM c GROUP BY doc_id),
        vd AS (SELECT cand.a, cand.b, sum(ca.c * cb.c) AS dot
          FROM cand JOIN c ca ON ca.doc_id = cand.a
                    JOIN c cb ON cb.doc_id = cand.b AND cb.dim = ca.dim
          GROUP BY cand.a, cand.b),
        v AS (SELECT vd.a, vd.b,
          round(CAST(vd.dot AS DOUBLE) /
            (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4) AS cos_sim
          FROM vd JOIN nn na ON na.doc_id = vd.a JOIN nn nb ON nb.doc_id = vd.b)
        SELECT a, b, cos_sim FROM v WHERE cos_sim >= $threshold"""
  }

  /** Mirrors CorpusOps.quotaSample. The oracle ranks each source with ONE
    * global window (fine at oracle scale); Spark's salted two-phase prune
    * must land on the identical top-quota set — exactly what this checks,
    * since phase 1 keeping every global answer row is the operator's
    * correctness claim.
    */
  def quotaSampleSql(quota: Int): String =
    s"""WITH r AS (SELECT d.doc_id, d.source, q.quality,
          row_number() OVER (PARTITION BY d.source
            ORDER BY q.quality DESC, d.doc_id) AS rk
          FROM documents d JOIN ($qualitySql) q ON d.doc_id = q.doc_id)
        SELECT doc_id, source, quality, rk FROM r WHERE rk <= $quota"""

  /** Mirrors TextAnalysis.scrubbed over TextAnalysis.withInjectedSpans.
    * The regex literals come from the SAME TextAnalysis constants the
    * Spark plan uses (RE2-safe subset — Java regex and DuckDB agree on
    * every construct in them); the span-injection expression mirrors
    * withInjectedSpans column-for-column. DuckDB regexp_replace needs the
    * explicit 'g' flag to match Java's replace-all default.
    */
  def textScrubSql: String = {
    import graft.operators.TextAnalysis.{urlRe, emailRe, numRe}
    s"""WITH e AS (SELECT doc_id,
          text || ' contact ' || source || '@example.com via https://ex.org/d/'
            || CAST(doc_id AS VARCHAR) || ' ref '
            || CAST(doc_id * 1000003 + 123456789 AS VARCHAR) AS t
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '$urlRe')) AS BIGINT) AS n_urls,
          CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(t, '$numRe')) AS BIGINT) AS n_nums,
          regexp_replace(regexp_replace(regexp_replace(t,
            '$urlRe', '<URL>', 'g'),
            '$emailRe', '<EMAIL>', 'g'),
            '$numRe', '<NUM>', 'g') AS scrubbed
        FROM e"""
  }

  // -------------------------------------------------------------- corpus

  /** The [[CorpusOps.hexCell]] sampling cell in DuckDB: first 8 hex chars
    * of md5("salt:id"). `||` stringifies the BIGINT id exactly like
    * Spark's `.cast("string")`, and hex-string `<` is byte-wise identical
    * in both engines.
    */
  private def hexCellSql(salt: String): String =
    s"substr(md5('$salt:' || doc_id), 1, 8)"

  /** Mirrors CorpusOps.splitAssignments — the threshold literal comes from
    * the SAME [[CorpusOps.hexThreshold]] the Spark plan uses.
    */
  def splitAssignmentsSql(evalRate: Double, salt: String = "split"): String =
    s"""SELECT doc_id,
        CASE WHEN ${hexCellSql(salt)} < '${CorpusOps.hexThreshold(evalRate)}'
             THEN 'eval' ELSE 'train' END AS split
        FROM documents"""

  /** Mirrors CorpusOps.leakageSafeSplit over Dedup.clusters labels: the
    * full recursive-CTE min-label closure of [[clustersSql]] embeds as a
    * nested-WITH CTE (the [[componentsOverPairsSql]] embedding pattern),
    * then the split CASE hashes cluster_id with the SAME
    * [[CorpusOps.hexThreshold]] literal as the Spark plan. Singleton
    * clusters (cluster_id = doc_id) reproduce [[splitAssignmentsSql]]
    * bit-for-bit under the same salt.
    */
  def leakageSafeSplitSql(n: Int, threshold: Double, evalRate: Double,
                          salt: String = "split"): String =
    s"""WITH labs AS (${clustersSql(n, threshold)})
        SELECT doc_id, cluster_id,
          CASE WHEN substr(md5('$salt:' || cluster_id), 1, 8)
                 < '${CorpusOps.hexThreshold(evalRate)}'
               THEN 'eval' ELSE 'train' END AS split
        FROM labs"""

  /** Mirrors CorpusOps.mixCorpus: the CASE arms render from the SAME
    * weight map as the Spark plan (source values are distinct, so arm
    * order is immaterial; the ELSE is the default rate).
    */
  def mixCorpusSql(weights: Seq[(String, Double)] = CorpusOps.defaultMixWeights,
                   defaultRate: Double = CorpusOps.defaultMixRate,
                   salt: String = "mix"): String = {
    val arms = weights.map { case (src, w) =>
      s"WHEN '$src' THEN '${CorpusOps.hexThreshold(w)}'"
    }.mkString(" ")
    s"""SELECT doc_id, source FROM documents
        WHERE ${hexCellSql(salt)} <
          CASE source $arms ELSE '${CorpusOps.hexThreshold(defaultRate)}' END"""
  }

  /** Mirrors CorpusOps.decontaminate: word n-gram shingles (same chain as
    * the jaccard oracles), eval membership by hash cell, distinct eval
    * grams probed by the train side. `unnest` drops empty shingle lists
    * where Spark's explode_outer emits a null gram — equivalent, since
    * null grams never survive the equi-join and the train side filters
    * them explicitly.
    */
  def decontaminateSql(n: Int, evalRate: Double,
                       salt: String = "split"): String =
    s"""${toksCte()},
        sh AS (SELECT doc_id,
          ${hexCellSql(salt)} < '${CorpusOps.hexThreshold(evalRate)}' AS is_eval,
          ${shingles(n)} AS shingles FROM t),
        g AS (SELECT doc_id, is_eval, unnest(shingles) AS gram FROM sh),
        ev AS (SELECT DISTINCT gram FROM g WHERE is_eval)
        SELECT doc_id, count(*) AS n_shared_grams
        FROM g JOIN ev USING (gram) WHERE NOT is_eval GROUP BY doc_id"""

  /** Mirrors CorpusOps.contaminationReport: distinct leaked grams per
    * eval doc + the worst-offending train doc (shared desc, id asc).
    */
  def contaminationReportSql(n: Int, evalRate: Double,
                             salt: String = "split"): String =
    s"""${toksCte()},
        sh AS (SELECT doc_id,
          ${hexCellSql(salt)} < '${CorpusOps.hexThreshold(evalRate)}' AS is_eval,
          ${shingles(n)} AS shingles FROM t),
        g AS (SELECT doc_id, is_eval, unnest(shingles) AS gram FROM sh),
        ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE is_eval),
        tr AS (SELECT doc_id AS train_id, gram FROM g WHERE NOT is_eval),
        h AS (SELECT eval_id, train_id, gram FROM ev JOIN tr USING (gram)),
        pe AS (SELECT eval_id, count(DISTINCT gram) AS n_shared_grams
          FROM h GROUP BY eval_id),
        top AS (SELECT eval_id, train_id AS top_train_doc, shared AS top_shared,
          row_number() OVER (PARTITION BY eval_id
            ORDER BY shared DESC, train_id) AS rk
          FROM (SELECT eval_id, train_id, count(*) AS shared
            FROM h GROUP BY eval_id, train_id))
        SELECT pe.eval_id AS doc_id, n_shared_grams, top_train_doc, top_shared
        FROM pe JOIN top ON pe.eval_id = top.eval_id AND rk = 1"""

  /** Mirrors CorpusOps.packShards. The oracle computes the global
    * exclusive running token sum directly (DuckDB windows the whole table
    * in one pass — fine at oracle scale); Spark's two-phase distributed
    * prefix sum must land on the identical cumulative values, which is
    * exactly what this checks. The shard division mirrors Spark
    * IEEE-op-for-op: floor(CAST(cum AS DOUBLE) / budget).
    */
  def packShardsSql(budgetTokens: Long): String =
    s"""WITH s AS (SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (SELECT doc_id, n_tok,
          coalesce(sum(n_tok) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM s)
        SELECT doc_id, n_tok,
          CAST(floor(cum::DOUBLE / $budgetTokens.0) AS BIGINT) AS shard_id
        FROM c"""

  /** Mirrors CorpusOps.chunkMap: the packShards running sum, each doc
    * exploded onto the chunk range it spans (generate_series is inclusive
    * in both engines), slice geometry in pure BIGINT arithmetic.
    */
  def chunkMapSql(chunkTokens: Long): String =
    s"""WITH s AS (SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (SELECT doc_id, n_tok,
          coalesce(sum(n_tok) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM s),
        x AS (SELECT doc_id, n_tok, cum,
          unnest(generate_series(
            CAST(floor(cum::DOUBLE / $chunkTokens.0) AS BIGINT),
            CAST(floor((cum + n_tok - 1)::DOUBLE / $chunkTokens.0) AS BIGINT))) AS chunk_id
          FROM c WHERE n_tok > 0)
        SELECT chunk_id, doc_id,
          CAST(greatest(cum, chunk_id * $chunkTokens) - chunk_id * $chunkTokens AS BIGINT) AS off_in_chunk,
          CAST(greatest(cum, chunk_id * $chunkTokens) - cum AS BIGINT) AS tok_from,
          CAST(least(cum + n_tok, chunk_id * $chunkTokens + $chunkTokens)
            - greatest(cum, chunk_id * $chunkTokens) AS BIGINT) AS n_toks
        FROM x"""

  /** Mirrors CorpusOps.mixCorpusTemperature: per-source token mass, rate
    * = sqrt(min/tok) (both operations IEEE-correctly-rounded, so the
    * rates agree bit-for-bit), threshold rendered with the identical
    * floor(rate·2³²)→8-hex-digit construction, compared against the same
    * md5 cell. `::DOUBLE` casts force double arithmetic everywhere a bare
    * DuckDB literal would otherwise be DECIMAL.
    */
  def mixCorpusTemperatureSql(salt: String = "mixt"): String =
    s"""WITH t AS (SELECT source,
          sum(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)) AS tok
          FROM documents GROUP BY source),
        r AS (SELECT source,
          sqrt((SELECT min(tok) FROM t)::DOUBLE / tok::DOUBLE) AS rate FROM t),
        thr AS (SELECT source,
          CASE WHEN rate >= 1.0 THEN 'g'
               ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
          END AS t FROM r)
        SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
        WHERE ${hexCellSql(salt)} < thr.t"""

  /** Mirrors CorpusOps.shuffleShards: 60-bit md5 rank ([[base60]]), shard
    * by modulus, dense in-shard position by (rank, doc_id).
    */
  /** Mirrors CorpusOps.manifest: per-source counts + order-independent
    * bit_xor content checksum over the (doc_id ":" text) base60 hashes.
    */
  def manifestSql: String =
    s"""WITH f AS (SELECT source,
          CAST(len(${toks(norm("text"))}) AS BIGINT) AS n_tokens,
          ${base60("doc_id || ':' || text")} AS fp FROM documents)
        SELECT source, count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          bit_xor(fp) AS content_xor
        FROM f GROUP BY source"""

  /** Mirrors CorpusOps.interleave: per-source md5-shuffled rank +
    * alphabetic source index, round-robin key arithmetic.
    */
  def interleaveSql(salt: String = "interleave"): String =
    s"""WITH s AS (SELECT source,
          CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS si
          FROM (SELECT DISTINCT source FROM documents)),
        n AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM s),
        r AS (SELECT doc_id, source,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY ${base60(s"'$salt:' || doc_id")}, doc_id) AS BIGINT) AS r
          FROM documents)
        SELECT doc_id, source, (r - 1) * ns + (si - 1) AS interleave_key
        FROM r JOIN s USING (source) CROSS JOIN n"""

  def shuffleShardsSql(shards: Int, salt: String = "shuffle"): String =
    s"""WITH h AS (SELECT doc_id, ${base60(s"'$salt:' || doc_id")} AS h
          FROM documents)
        SELECT doc_id, h % $shards AS shard,
          CAST(row_number() OVER (PARTITION BY h % $shards
            ORDER BY h, doc_id) AS BIGINT) AS pos
        FROM h"""

  // --------------------------------------------------------------- dedup

  /** DetHash.base60 in DuckDB: 15 md5 hex chars → 60-bit BIGINT. */
  def base60(c: String): String =
    s"('0x' || substr(md5($c), 1, 15))::BIGINT"

  /** Mirrors CorpusOps.epochSample: per-source whole copies + a
    * fractional extra gated on the salted hash cell, exploded to one row
    * per (doc, epoch). CASE arms render from the same factor seq the
    * Spark plan folds over.
    */
  def epochSampleSql(factors: Seq[(String, Double)] = CorpusOps.defaultEpochFactors,
                     defaultFactor: Double = CorpusOps.defaultEpochFactor,
                     salt: String = "epoch"): String = {
    val wholeArms = factors.map { case (src, w) =>
      s"WHEN '$src' THEN ${math.floor(w).toLong}"
    }.mkString(" ")
    val fracArms = factors.map { case (src, w) =>
      s"WHEN '$src' THEN '${CorpusOps.hexThreshold(w - math.floor(w))}'"
    }.mkString(" ")
    s"""WITH c AS (SELECT doc_id, source,
          (CASE source $wholeArms ELSE ${math.floor(defaultFactor).toLong} END)
          + (CASE WHEN ${hexCellSql(salt)} <
              CASE source $fracArms ELSE '${CorpusOps.hexThreshold(defaultFactor - math.floor(defaultFactor))}' END
             THEN 1 ELSE 0 END) AS n_copies
        FROM documents)
        SELECT doc_id, source, unnest(generate_series(0, n_copies - 1)) AS epoch
        FROM c WHERE n_copies > 0"""
  }

  /** Mirrors TextAnalysis.vocabulary: term frequencies → top-V by
    * (tf desc, tok), ranked over the selected rows.
    */
  def vocabularySql(topV: Int): String =
    s"""WITH f AS (SELECT tok, count(*) AS tf
          FROM (SELECT unnest(${toks(norm("text"))}) AS tok FROM documents)
          GROUP BY tok),
        v AS (SELECT tok, tf FROM f ORDER BY tf DESC, tok LIMIT $topV)
        SELECT tok, tf,
          CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rank
        FROM v"""

  /** Mirrors CorpusOps.sourceDrift: the scaled-KL identity over the same
    * hashed-bigram models — every per-bucket term integer in micro-nats,
    * one divide + round per source at the end.
    */
  def sourceDriftSql(dims: Int): String = {
    def qln(c: String): String =
      s"CAST(floor(ln(($c)::DOUBLE) * 1e6 + 0.5) AS BIGINT)"
    s"""WITH t AS (SELECT source, ${toks(norm("text"))} AS tk FROM documents),
        o AS (SELECT source, ${base60("g")} % $dims AS f
          FROM (SELECT source, unnest(${gramOccSql(2)}) AS g FROM t)),
        c AS (SELECT f, count(*) AS cc FROM o GROUP BY f),
        s AS (SELECT source, f, count(*) AS cs FROM o GROUP BY source, f),
        st AS (SELECT source, count(*) AS ts FROM o GROUP BY source),
        k AS (SELECT CAST(sum(cc) AS BIGINT) AS tc, count(*) AS d FROM c),
        dom AS (SELECT st.source, c.f, c.cc FROM st CROSS JOIN c),
        terms AS (SELECT dom.source,
          CAST(sum((coalesce(cs, 0) + 1) *
            (${qln("coalesce(cs, 0) + 1")} - ${qln("cc + 1")})) AS BIGINT) AS s
          FROM dom LEFT JOIN s ON dom.source = s.source AND dom.f = s.f
          GROUP BY dom.source)
        SELECT source, ts AS n_feats,
          s - (ts + d) * (${qln("ts + d")} - ${qln("tc + d")}) AS kl_scaled_micro,
          round((s - (ts + d) * (${qln("ts + d")} - ${qln("tc + d")}))::DOUBLE
            / (ts + d)::DOUBLE / 1e6, 4) AS kl
        FROM terms JOIN st USING (source) CROSS JOIN k"""
  }

  /** Mirrors CorpusOps.dsirWeights: hashed-bigram occurrences, add-1
    * smoothed target/raw bucket models, per-FEATURE micro-nat log deltas
    * summed exactly per doc, corpus-constant normalizer applied once.
    * Sums cast back to BIGINT (DuckDB widens sum(BIGINT) to HUGEINT).
    */
  def dsirWeightsSql(targetLang: String, dims: Int): String = {
    def qln(c: String): String =
      s"CAST(floor(ln(($c)::DOUBLE) * 1e6 + 0.5) AS BIGINT)"
    s"""WITH t AS (SELECT doc_id, lang, ${toks(norm("text"))} AS tk FROM documents),
        o AS (SELECT doc_id, lang, ${base60("g")} % $dims AS f
          FROM (SELECT doc_id, lang, unnest(${gramOccSql(2)}) AS g FROM t)),
        r AS (SELECT f, count(*) AS cr FROM o GROUP BY f),
        tg AS (SELECT f, count(*) AS ct FROM o WHERE lang = '$targetLang' GROUP BY f),
        m AS (SELECT f, ${qln("coalesce(ct, 0) + 1")} - ${qln("cr + 1")} AS qd
          FROM r LEFT JOIN tg USING (f)),
        tot AS (SELECT ${qln(s"count(*) + $dims")} AS qln_tr,
          ${qln(s"sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END) + $dims")} AS qln_tt
          FROM o),
        d AS (SELECT doc_id, count(*) AS n_feats, CAST(sum(qd) AS BIGINT) AS s
          FROM o JOIN m USING (f) GROUP BY doc_id)
        SELECT doc_id, n_feats,
          s + n_feats * (qln_tr - qln_tt) AS logw_micro,
          round((s + n_feats * (qln_tr - qln_tt))::DOUBLE / 1e6, 4) AS log_weight
        FROM d CROSS JOIN tot"""
  }

  /** Mirrors TextAnalysis.bm25TopK (odds-ratio idf, logIdf = false). All
    * double literals are rendered from the SAME JVM doubles the Spark
    * plan inlines (`Double.toString` round-trips exactly), and every
    * expression is parenthesized to the same evaluation order, so scores
    * are bit-identical.
    */
  def bm25TopKSql(terms: Seq[String] = TextAnalysis.bm25Terms, k: Int = 20,
                  k1: Double = 1.2, b: Double = 0.75): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t'))::BIGINT AS tf_$i"
    }.mkString(", ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val normExpr = s"$k1 * (1.0 - $b + $b * CAST(dl AS DOUBLE) / avgdl)"
    val score = terms.indices.map { i =>
      s"((n_docs - df_$i + 0.5) / (df_$i + 0.5)) * (CAST(tf_$i AS DOUBLE) * ${k1 + 1.0}) / (CAST(tf_$i AS DOUBLE) + $normExpr)"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, ${toks(norm("text"))} AS tk FROM documents),
        d AS (SELECT doc_id, len(tk)::BIGINT AS dl, $tfCols FROM t),
        s AS (SELECT count(*) AS n_docs,
          CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl, $dfCols FROM d),
        sc AS (SELECT doc_id, $score AS raw FROM d, s)
        SELECT doc_id, round(raw, 4) AS bm25 FROM sc WHERE raw > 0
        ORDER BY bm25 DESC, doc_id ASC LIMIT $k"""
  }

  /** Mirrors Relational.cmsHeavyHitters: the Count-Min grid and the
    * per-key min-over-depths probe, from the SAME affine constants
    * (DetHash seed offset 200). Pure integer math in both engines.
    */
  def cmsHeavyHittersSql(depth: Int, width: Int, k: Int,
                         table: String = "events",
                         key: String = "user_id"): String = {
    def cell(d: Int, h: String): String =
      s"(((${DetHash.minhashA(200 + d)} * $h + ${DetHash.minhashB(200 + d)}) % $P) % $width)"
    val cellRows = (0 until depth).map(d =>
      s"SELECT $d AS d, ${cell(d, "h")} AS cell FROM b").mkString(" UNION ALL ")
    val probeRows = (0 until depth).map(d =>
      s"SELECT $key, exact_cnt, $d AS d, ${cell(d, "h")} AS cell FROM u")
      .mkString(" UNION ALL ")
    s"""WITH b AS (SELECT $key, ${base60(s"CAST($key AS VARCHAR)")} % $P AS h FROM $table),
        cells AS (SELECT d, cell, count(*) AS cnt FROM ($cellRows) GROUP BY d, cell),
        u AS (SELECT $key, count(*) AS exact_cnt,
          ${base60(s"CAST($key AS VARCHAR)")} % $P AS h FROM $table GROUP BY $key),
        probes AS ($probeRows),
        est AS (SELECT p.$key, p.exact_cnt, min(c.cnt) AS est_cnt
          FROM probes p JOIN cells c ON p.d = c.d AND p.cell = c.cell
          GROUP BY p.$key, p.exact_cnt)
        SELECT $key, exact_cnt, est_cnt FROM est
        ORDER BY est_cnt DESC, $key ASC LIMIT $k"""
  }

  /** Mirrors ZOrder.ordersZkeys: the Morton key re-derived through the
    * SAME (shift, mask) ladder ([[graft.operators.ZOrder.SpreadMasks]]) as
    * chained CTEs — pure BIGINT `| & <<` arithmetic, identical in both
    * engines.
    */
  def zorderKeySql: String = {
    val ladder = graft.operators.ZOrder.SpreadMasks.zipWithIndex.map {
      case ((s, m), i) =>
        val prev = if (i == 0) "m" else s"s$i"
        s"""s${i + 1} AS (SELECT o_orderkey, x, y,
           ((xs | (xs << $s)) & $m) AS xs, ((ys | (ys << $s)) & $m) AS ys FROM $prev)"""
    }.mkString(",\n        ")
    s"""WITH r AS (SELECT o_orderkey, o_custkey AS x,
          CAST(floor(o_totalprice / 16) AS BIGINT) AS y FROM orders),
        m AS (SELECT o_orderkey, x, y, (x & 65535) AS xs, (y & 65535) AS ys FROM r),
        $ladder
        SELECT o_orderkey, x, y, (xs | (ys << 1)) AS zval
        FROM s${graft.operators.ZOrder.SpreadMasks.size}"""
  }

  /** Mirrors Relational.kmvDistinct: k smallest distinct base60 hashes of
    * the key, then the (k−1)/r_k KMV estimate. The (k−1)·2⁶⁰ numerator is
    * a product of two exactly-representable doubles in both engines
    * (k−1 < 2⁵³, 2⁶⁰ is a power of two), so the division and round(…,4)
    * see bit-identical operands.
    */
  def kmvDistinctSql(k: Int, table: String = "lineitem",
                     key: String = "l_orderkey"): String =
    s"""WITH h AS (SELECT DISTINCT ${base60(s"CAST($key AS VARCHAR)")} AS h FROM $table),
        s AS (SELECT h FROM h ORDER BY h LIMIT $k)
        SELECT count(*) AS n_sketch, max(h) AS kth_hash,
          CASE WHEN count(*) < $k THEN count(*)::DOUBLE
               WHEN max(h) = 0 THEN count(*)::DOUBLE
               ELSE round(${(k - 1).toDouble} * 1152921504606846976.0 / max(h)::DOUBLE, 4) END AS est_distinct
        FROM s"""

  /** Mirrors Relational.kmvDistinctByGroup: the same k-smallest-distinct
    * construction as [[kmvDistinctSql]], rank-windowed per group.
    */
  def kmvDistinctByGroupSql(k: Int, table: String = "events",
                            group: String = "event_type",
                            key: String = "user_id"): String =
    s"""WITH h AS (SELECT DISTINCT $group, ${base60(s"CAST($key AS VARCHAR)")} AS h FROM $table),
        r AS (SELECT $group, h,
          row_number() OVER (PARTITION BY $group ORDER BY h) AS rn FROM h),
        s AS (SELECT $group, h FROM r WHERE rn <= $k)
        SELECT $group, count(*) AS n_sketch, max(h) AS kth_hash,
          CASE WHEN count(*) < $k THEN count(*)::DOUBLE
               WHEN max(h) = 0 THEN count(*)::DOUBLE
               ELSE round(${(k - 1).toDouble} * 1152921504606846976.0 / max(h)::DOUBLE, 4) END AS est_distinct
        FROM s GROUP BY $group"""

  /** Mirrors CorpusOps.kmvOverlap: per-gram-hash slice-membership flags,
    * the k smallest union hashes, then the Beyer et al. estimates — the
    * divides/multiplies run over identically-rounded operands in both
    * engines.
    */
  def kmvOverlapSql(n: Int, evalRate: Double, k: Int,
                    salt: String = "split"): String =
    s"""${toksCte()},
        sh AS (SELECT doc_id,
          ${hexCellSql(salt)} < '${CorpusOps.hexThreshold(evalRate)}' AS is_eval,
          ${shingles(n)} AS shingles FROM t),
        g AS (SELECT is_eval, unnest(shingles) AS gram FROM sh),
        m AS (SELECT ${base60("gram")} AS h,
          max(CASE WHEN is_eval THEN 1 ELSE 0 END) = 1 AS in_eval,
          max(CASE WHEN is_eval THEN 0 ELSE 1 END) = 1 AS in_train
          FROM g GROUP BY 1),
        s AS (SELECT * FROM m ORDER BY h LIMIT $k),
        a AS (SELECT count(*) AS n_sketch, max(h) AS kth_hash,
          CAST(sum(CASE WHEN in_eval AND in_train THEN 1 ELSE 0 END) AS BIGINT) AS n_both
          FROM s),
        e AS (SELECT n_sketch, kth_hash, n_both,
          CASE WHEN n_sketch < $k THEN n_sketch::DOUBLE
               WHEN kth_hash = 0 THEN n_sketch::DOUBLE
               ELSE round(${(k - 1).toDouble} * 1152921504606846976.0 / kth_hash::DOUBLE, 4) END AS est_union,
          CASE WHEN n_sketch = 0 THEN NULL
               ELSE round(n_both::DOUBLE / n_sketch::DOUBLE, 4) END AS jaccard_est
          FROM a)
        SELECT n_sketch, kth_hash, n_both, est_union, jaccard_est,
          round(jaccard_est * est_union, 4) AS est_shared FROM e"""

  private val P = DetHash.P

  /** The 16 minhash slot expressions over a `hs` BIGINT-list column. */
  private def sigExprs: Seq[String] =
    (0 until Dedup.NumHashes).map { i =>
      val (a, b) = (DetHash.minhashA(i), DetHash.minhashB(i))
      s"coalesce(list_min(list_transform(hs, h -> (h * $a + $b) % $P)), $P)"
    }

  /** Word-shingle `sh` CTE chain (defines sh(doc_id, shingles)). `pre`
    * prepends fixture CTEs and `src` names the doc relation, mirroring
    * [[charShCte]].
    */
  private def wordShCte(n: Int, src: String = "documents",
                        pre: String = ""): String =
    s"""WITH ${pre}t AS (SELECT doc_id, ${toks(norm("text"))} AS tk FROM $src),
        sh AS (SELECT doc_id, ${shingles(n)} AS shingles FROM t)"""

  /** The 62-bit rolling-hash gram key of a gram-string expression `g`,
    * evaluated as the DIRECT per-position polynomial (the rolling update in
    * [[graft.functions.CharGramHashes]] is the same value by modular
    * arithmetic): h_j = (Σ_k ascii(g[k]) · B_j^(n-1-k)) mod P, key =
    * h1·2³¹ + h2. Power-of-base literals come from [[DetHash.gramPow]] —
    * the same constants the Spark expression uses, so the key cannot
    * drift. ascii() equals the hashed byte on the normalized (pure-ASCII)
    * text. Every term < 2⁴¹ — no BIGINT overflow.
    */
  private def gramKeyExpr(g: String, n: Int): String = {
    def poly(b: Long): String = (0 until n).map { k =>
      s"ascii(substr($g, ${k + 1}, 1))::BIGINT * ${DetHash.gramPow(b, n - 1 - k)}"
    }.mkString("(", " + ", s") % $P")
    s"(${poly(DetHash.GramB1)}) * 2147483648 + (${poly(DetHash.GramB2)})"
  }

  /** Char-shingle `sh` CTE chain, mirroring Dedup.charShingled: distinct
    * 62-bit gram KEYS (BIGINT), not gram strings. `pre` prepends extra
    * CTEs (e.g. the skewed fixture) and `src` names the doc relation.
    */
  private def charShCte(n: Int, src: String = "documents",
                        pre: String = ""): String =
    s"""WITH ${pre}g AS (SELECT doc_id,
          list_filter(
            list_transform(
              generate_series(1, greatest(len(nrm) - ${n - 1}, 1)),
              i -> substr(nrm, i, $n)),
            s -> len(s) = $n) AS grams
        FROM (SELECT doc_id, ${norm("text")} AS nrm FROM $src)),
        sh AS (SELECT doc_id,
          list_distinct(list_transform(grams, s -> ${gramKeyExpr("s", n)})) AS shingles
        FROM g)"""

  private def sigCteOver(shCte: String): String =
    s"""$shCte,
        hsx AS (SELECT doc_id, shingles,
          list_transform(shingles, s -> ${base60("s")} % $P) AS hs FROM sh),
        sig AS (SELECT doc_id, shingles,
          ${sigExprs.zipWithIndex.map { case (e, i) => s"$e AS s$i" }.mkString(",\n          ")}
        FROM hsx)"""

  /** [[sigCteOver]] for a `sh` CTE whose shingles are ALREADY BIGINT gram
    * keys: base hash = key mod P, mirroring Dedup.withSignature.
    */
  private def sigCteOverHashes(shCte: String): String =
    s"""$shCte,
        hsx AS (SELECT doc_id, shingles,
          list_transform(shingles, h -> h % $P) AS hs FROM sh),
        sig AS (SELECT doc_id, shingles,
          ${sigExprs.zipWithIndex.map { case (e, i) => s"$e AS s$i" }.mkString(",\n          ")}
        FROM hsx)"""

  private def sigCte(n: Int): String = sigCteOver(wordShCte(n))

  def minhashSigSql(n: Int): String =
    s"""${sigCte(n)}
        SELECT doc_id, concat_ws(',', ${(0 until Dedup.NumHashes).map("s" + _).mkString(", ")}) AS sig
        FROM sig"""

  private def jaccardExpr(a: String, b: String): String =
    s"""CASE WHEN len(list_distinct(list_concat($a, $b))) = 0 THEN 0.0
        ELSE len(list_intersect($a, $b))::DOUBLE
             / len(list_distinct(list_concat($a, $b)))::DOUBLE END"""

  /** The Bands per-row band-key expressions, shared by every LSH oracle. */
  private def bandKeysSql: String =
    (0 until Dedup.Bands).map { b =>
      val rows = (0 until Dedup.RowsPerBand)
        .map(r => s"s${b * Dedup.RowsPerBand + r}").mkString(", ")
      s"concat_ws(':', $b, $rows)"
    }.mkString(", ")

  def lshPairsSql(n: Int, threshold: Double): String =
    lshPairsSqlOver(wordShCte(n), threshold)

  /** Mirrors Dedup.charLshPairs over the SKEWED stress fixture
    * (Dedup.skewedDocs): every fifth doc gets the shared boilerplate
    * prefix, rebuilt here as a pure SQL derivation of (doc_id, text).
    */
  /** The skewed-fixture text derivation (Dedup.skewedDocs) as a SQL CTE. */
  private def skewCte: String =
    s"""skew AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 0
                THEN '${graft.operators.Dedup.SkewBoiler} ' || CAST((doc_id // 10) % 2 AS VARCHAR)
                WHEN doc_id % 5 = 0
                THEN '${graft.operators.Dedup.SkewBoiler} ' || text
                ELSE text END AS text
           FROM documents),
        """

  def charLshPairsSkewedSql(n: Int, threshold: Double): String =
    charLshPairsSql(n, threshold, src = "skew", pre = skewCte)

  /** Mirrors Dedup.editDistancePairs over the skewed fixture: the same
    * banded candidates + estimate gate, then the exact levenshtein
    * verify — integer DP, identical in both engines on the ASCII
    * fixture.
    */
  def editPairsSkewedSql(n: Int, threshold: Double, maxDist: Int): String =
    s"""${charLshPairsCtes(n, threshold, "skew", skewCte)}
        SELECT p.a, p.b, CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
        FROM pairs p JOIN skew ta ON p.a = ta.doc_id
                     JOIN skew tb ON p.b = tb.doc_id
        WHERE levenshtein(ta.text, tb.text) <= $maxDist"""

  /** Mirrors Dedup.charLshPairs: banded candidates + signature-slot
    * estimate.
    */
  def charLshPairsSql(n: Int, threshold: Double, src: String = "documents",
                      pre: String = ""): String =
    s"""${charLshPairsCtes(n, threshold, src, pre)}
        SELECT a, b, est_sim FROM pairs"""

  /** The shared CTE chain of the char-LSH pair queries, ending in a
    * `pairs(a, b, est_sim)` relation.
    */
  private def charLshPairsCtes(n: Int, threshold: Double, src: String,
                               pre: String): String = {
    val bandKeys = bandKeysSql
    val matches = (0 until Dedup.NumHashes)
      .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""${sigCteOverHashes(charShCte(n, src, pre))},
        bands AS (SELECT doc_id, unnest([$bandKeys]) AS bk FROM sig
                  WHERE len(shingles) > 0),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id),
        est AS (SELECT a, b,
          round(($matches)::DOUBLE / ${Dedup.NumHashes}, 4) AS est_sim
          FROM cand JOIN sig sa ON cand.a = sa.doc_id
                    JOIN sig sb ON cand.b = sb.doc_id),
        pairs AS (SELECT a, b, est_sim FROM est WHERE est_sim >= $threshold)"""
  }

  /** Mirrors Dedup.indexedNearDupMatches: the new batch (doc_id % 10 >= 8)
    * banded against the corpus slice (doc_id % 10 < 8), verified by the
    * signature-slot estimate. The oracle doesn't model the persisted
    * bucketed index (physical layout); values must equal this plain
    * cross-slice formulation. Empty-shingle docs never band (same guard
    * as the Spark side's generator expression).
    */
  def indexedNearDupSql(n: Int, threshold: Double): String = {
    val matches = (0 until Dedup.NumHashes)
      .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""${sigCteOver(wordShCte(n))},
        bands AS (SELECT doc_id, unnest([$bandKeysSql]) AS bk FROM sig
                  WHERE len(shingles) > 0),
        cand AS (SELECT DISTINCT nw.doc_id AS doc_id, ol.doc_id AS matched_doc_id
          FROM bands nw JOIN bands ol ON nw.bk = ol.bk
          WHERE nw.doc_id % 10 >= 8 AND ol.doc_id % 10 < 8),
        est AS (SELECT cand.doc_id, cand.matched_doc_id,
          round(($matches)::DOUBLE / ${Dedup.NumHashes}, 4) AS est_sim
          FROM cand JOIN sig sa ON cand.doc_id = sa.doc_id
                    JOIN sig sb ON cand.matched_doc_id = sb.doc_id)
        SELECT doc_id, matched_doc_id, est_sim FROM est
        WHERE est_sim >= $threshold"""
  }

  /** Mirrors Dedup.fuzzyDecontaminate: banded cross-slice candidates
    * (train % 20 ≠ 0 vs eval % 20 = 0), signature-slot estimate,
    * per-train aggregation over DISTINCT eval matches.
    */
  def fuzzyDecontaminateSql(n: Int, threshold: Double): String = {
    val matches = (0 until Dedup.NumHashes)
      .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""${sigCteOver(wordShCte(n))},
        bands AS (SELECT doc_id, unnest([$bandKeysSql]) AS bk FROM sig
                  WHERE len(shingles) > 0),
        cand AS (SELECT DISTINCT tr.doc_id AS doc_id, ev.doc_id AS eval_doc_id
          FROM bands tr JOIN bands ev ON tr.bk = ev.bk
          WHERE tr.doc_id % 20 <> 0 AND ev.doc_id % 20 = 0),
        est AS (SELECT cand.doc_id, cand.eval_doc_id,
          round(($matches)::DOUBLE / ${Dedup.NumHashes}, 4) AS est_sim
          FROM cand JOIN sig sa ON cand.doc_id = sa.doc_id
                    JOIN sig sb ON cand.eval_doc_id = sb.doc_id)
        SELECT doc_id, count(*) AS n_eval_matches, max(est_sim) AS max_sim
        FROM est WHERE est_sim >= $threshold GROUP BY doc_id"""
  }

  /** Mirrors Dedup.clusterRepresentatives: the clusters closure as a
    * shadowed subquery, token counts joined on, and the per-cluster
    * winner picked by (n_tokens DESC, doc_id) — the same total order as
    * the Spark side's max_by struct.
    */
  def clusterRepsSql(n: Int, threshold: Double, src: String = "documents",
                     pre: String = ""): String =
    s"""WITH ${pre}lab AS (SELECT * FROM (
          ${clustersSqlOver(sigCteOver(wordShCte(n, src, pre)), threshold)})),
        q AS (SELECT doc_id, len(${toks(norm("text"))})::BIGINT AS n_tokens
          FROM $src),
        j AS (SELECT lab.cluster_id, lab.doc_id, q.n_tokens,
            row_number() OVER (PARTITION BY lab.cluster_id
              ORDER BY q.n_tokens DESC, lab.doc_id) AS rk,
            count(*) OVER (PARTITION BY lab.cluster_id) AS cluster_size
          FROM lab JOIN q ON lab.doc_id = q.doc_id)
        SELECT cluster_id, doc_id AS keep_doc_id, n_tokens,
          CAST(cluster_size AS BIGINT) AS cluster_size
        FROM j WHERE rk = 1"""

  /** The exact-dedup survivor corpus as a `ex` CTE fragment (keep-min
    * per md5 fingerprint), for funnel compositions.
    */
  private def exactSurvivorsCte: String =
    s"""ex AS (SELECT d.* FROM documents d
          JOIN (SELECT min(doc_id) AS doc_id
                FROM (SELECT doc_id, md5(${norm("text")}) AS fp FROM documents)
                GROUP BY fp) k ON d.doc_id = k.doc_id),
        """

  /** Mirrors Dedup.dedupFunnelReport: raw → exact keep-min → near-dup
    * cluster representatives OVER the exact survivors, one row per tier.
    */
  def dedupFunnelSql(n: Int, threshold: Double): String =
    s"""SELECT CAST(0 AS BIGINT) AS tier, 'raw' AS stage,
          count(*)::BIGINT AS docs FROM documents
        UNION ALL
        SELECT 1, 'exact', count(*)::BIGINT FROM (
          SELECT min(doc_id) FROM (SELECT doc_id, md5(${norm("text")}) AS fp
            FROM documents) GROUP BY fp)
        UNION ALL
        SELECT 2, 'near_dup_reps', count(*)::BIGINT FROM (
          ${clusterRepsSql(n, threshold, "ex", exactSurvivorsCte)})"""

  private def lshPairsSqlOver(shCte: String, threshold: Double): String = {
    val bandKeys = bandKeysSql
    s"""${sigCteOver(shCte)},
        bands AS (SELECT doc_id, unnest([$bandKeys]) AS bk FROM sig),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id),
        j AS (SELECT a, b,
          ${jaccardExpr("sa.shingles", "sb.shingles")} AS jac
          FROM cand JOIN sh sa ON cand.a = sa.doc_id
                    JOIN sh sb ON cand.b = sb.doc_id)
        SELECT a, b, round(jac, 4) AS jaccard_sim FROM j WHERE jac >= $threshold"""
  }

  /** Mirrors Dedup.containmentPairs: naive directed posting join (the
    * oracle needn't prefix-filter — values must match the pruned plan).
    */
  def containmentPairsSql(n: Int, threshold: Double): String =
    s"""${toksCte()},
        sh AS (SELECT doc_id, ${shingles(n)} AS shingles FROM t),
        posting AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
        pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sza,
            count(*) AS inter
          FROM posting x JOIN posting y ON x.s = y.s AND x.doc_id <> y.doc_id
          GROUP BY 1, 2, 3)
        SELECT a, b, round(inter::DOUBLE / sza::DOUBLE, 4) AS containment
        FROM pairs WHERE inter::DOUBLE / sza::DOUBLE >= $threshold"""

  /** Mirrors Dedup.containmentReport: the FULL (uncollapsed) pair
    * relation aggregated per contained doc — distinct container count,
    * max (rounded) containment, and the smallest container id among
    * those at the max. The Spark side collapses exact duplicates and
    * expands family-level results by counting algebra; this oracle
    * deliberately does not, so the green row proves the collapse exact.
    */
  def containmentReportDirSql(n: Int, threshold: Double): String =
    s"""WITH pr AS (${containmentPairsSql(n, threshold)}),
        mx AS (SELECT a, count(*) AS n_containers,
                 max(containment) AS top_containment
               FROM pr GROUP BY a)
        SELECT mx.a AS doc_id, mx.n_containers,
          min(pr.b) AS top_container, mx.top_containment
        FROM mx JOIN pr ON pr.a = mx.a AND pr.containment = mx.top_containment
        GROUP BY mx.a, mx.n_containers, mx.top_containment"""

  /** Mirrors Dedup.charJaccardClusters: recursive closure over the full
    * char-gram jaccard pair relation (collapse-free, like the other
    * cluster oracles). */
  def charJaccardClustersSql(n: Int, threshold: Double): String =
    componentsOverPairsSql(charJaccardPairsSql(n, threshold))

  /** Mirrors Dedup.charLshClusters: recursive closure over the
    * UNCOLLAPSED banded char-LSH pair relation (the gated relation is
    * the contract, exactly like dedup_char_lsh's own oracle), so the
    * green row proves the collapse-first Spark plan exact against a
    * collapse-free recompute. The auto band width resolves to the fixed
    * 4×4 split at oracle scales, which is what this SQL hardcodes.
    */
  def charLshClustersSql(n: Int, threshold: Double): String =
    componentsOverPairsSql(charLshPairsSql(n, threshold))

  /** The asymmetric containment tier's band-key expressions: the same
    * 16 minhash slots retiled Dedup.AsymBands × Dedup.AsymRowsPerBand
    * (see [[bandKeysSql]] for the symmetric tiling).
    */
  private def asymBandKeysSql: String =
    (0 until Dedup.AsymBands).map { b =>
      val rows = (0 until Dedup.AsymRowsPerBand)
        .map(r => s"s${b * Dedup.AsymRowsPerBand + r}").mkString(", ")
      s"concat_ws(':', $b, $rows)"
    }.mkString(", ")

  /** Mirrors Dedup.containmentPairsLsh: the symmetric 4×4 banded
    * self-join UNION the asymmetric size-stratified tier (8×2 bands;
    * containers publish keys tagged with their own gram-size stratum
    * `length(bin(sz)) − 1`, contained candidates probe strata
    * s+1 .. s+MaxStratumDistance, survivors gated by the INTEGER
    * containment-estimate inequality 2·m·(sza+szb) ≥ sza·(16+m) over
    * the m agreeing minhash slots — all integer semantics identical to
    * the Spark side's), then the exact count-based containment verify,
    * emitted in both directions from one intersection count.
    */
  def containmentPairsLshSql(n: Int, threshold: Double): String = {
    val aMatches = (0 until Dedup.NumHashes)
      .map(i => s"CASE WHEN p.a$i = c.b$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val aSlots = (0 until Dedup.NumHashes).map(i => s"s$i AS a$i").mkString(", ")
    val bSlots = (0 until Dedup.NumHashes).map(i => s"s$i AS b$i").mkString(", ")
    s"""${sigCteOver(wordShCte(n))},
        bands AS (SELECT doc_id, unnest([$bandKeysSql]) AS bk FROM sig
                  WHERE len(shingles) > 0),
        abands AS (SELECT doc_id, ${(0 until Dedup.NumHashes)
                     .map("s" + _).mkString(", ")},
                   len(shingles) AS asz,
                   unnest([$asymBandKeysSql]) AS abk,
                   length(bin(len(shingles))) - 1 AS st FROM sig
                   WHERE len(shingles) > 0),
        aprobe AS (SELECT doc_id, $aSlots, asz AS sza,
                   abk || '@' || CAST(ts AS VARCHAR) AS k
          FROM (SELECT doc_id, ${(0 until Dedup.NumHashes)
                  .map("s" + _).mkString(", ")}, asz, abk,
                unnest([${(1 to Dedup.MaxStratumDistance)
                  .map(d => s"st + $d").mkString(", ")}]) AS ts
                FROM abands)),
        acont AS (SELECT doc_id, $bSlots, asz AS szb,
                  abk || '@' || CAST(st AS VARCHAR) AS k
                  FROM abands),
        acand AS (SELECT p.doc_id AS pa, c.doc_id AS cb,
                  p.sza AS sza, c.szb AS szb, ($aMatches) AS m
                  FROM aprobe p JOIN acont c ON p.k = c.k),
        cand AS (SELECT DISTINCT a, b FROM (
          SELECT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
          UNION ALL
          SELECT least(pa, cb) AS a, greatest(pa, cb) AS b
          FROM acand
          WHERE 2 * m * (sza + szb) >= sza * (${Dedup.NumHashes} + m))),
        posting AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        szs AS (SELECT doc_id, len(shingles) AS sz FROM sh),
        iv AS (SELECT cand.a, cand.b, za.sz AS sza, zb.sz AS szb,
            count(*) AS inter
          FROM cand JOIN szs za ON cand.a = za.doc_id
                    JOIN szs zb ON cand.b = zb.doc_id
                    JOIN posting pa ON cand.a = pa.doc_id
                    JOIN posting pb ON cand.b = pb.doc_id AND pb.s = pa.s
          GROUP BY 1, 2, 3, 4)
        SELECT a, b, round(inter::DOUBLE / sza::DOUBLE, 4) AS containment
        FROM iv WHERE inter::DOUBLE / sza::DOUBLE >= $threshold
        UNION ALL
        SELECT b AS a, a AS b,
          round(inter::DOUBLE / szb::DOUBLE, 4) AS containment
        FROM iv WHERE inter::DOUBLE / szb::DOUBLE >= $threshold"""
  }

  /** Mirrors Dedup.containmentReportLsh: the containmentReportDirSql
    * aggregation over the UNCOLLAPSED gated relation — the green row
    * proves the collapse + counting-algebra expansion exact over the
    * banded relation too.
    */
  def containmentReportLshSql(n: Int, threshold: Double): String =
    s"""WITH pr AS (${containmentPairsLshSql(n, threshold)}),
        mx AS (SELECT a, count(*) AS n_containers,
                 max(containment) AS top_containment
               FROM pr GROUP BY a)
        SELECT mx.a AS doc_id, mx.n_containers,
          min(pr.b) AS top_container, mx.top_containment
        FROM mx JOIN pr ON pr.a = mx.a AND pr.containment = mx.top_containment
        GROUP BY mx.a, mx.n_containers, mx.top_containment"""

  def jaccardPairsSql(n: Int, threshold: Double): String =
    s"""${toksCte()},
        sh AS (SELECT doc_id, ${shingles(n)} AS shingles FROM t),
        posting AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM posting x JOIN posting y ON x.s = y.s AND x.doc_id < y.doc_id),
        j AS (SELECT a, b,
          ${jaccardExpr("sa.shingles", "sb.shingles")} AS jac
          FROM cand JOIN sh sa ON cand.a = sa.doc_id
                    JOIN sh sb ON cand.b = sb.doc_id)
        SELECT a, b, round(jac, 4) AS jaccard_sim FROM j WHERE jac >= $threshold"""

  /** Char n-gram jaccard pairs, mirroring Dedup.charJaccardPairs (over
    * the 62-bit gram keys — see [[gramKeyExpr]]).
    */
  def charJaccardPairsSql(n: Int, threshold: Double): String =
    s"""${charShCte(n)},
        posting AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
        pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sza, y.sz AS szb,
            count(*) AS inter
          FROM posting x JOIN posting y ON x.s = y.s AND x.doc_id < y.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT a, b, round(inter::DOUBLE / (sza + szb - inter)::DOUBLE, 4) AS jaccard_sim
        FROM pairs WHERE inter::DOUBLE / (sza + szb - inter)::DOUBLE >= $threshold"""

  /** Mirrors Dedup.dupSpans: positional n-gram keys per document (the
    * direct per-position polynomial equals the Spark side's rolling
    * update — see [[gramKeyExpr]]; at n = 30 each position sums 30 terms
    * < 2³⁸ each, far from BIGINT overflow), keys occurring more than once
    * corpus-wide mark their positions duplicated, and a gaps-and-islands
    * window merges runs into maximal spans. Positions are 1-based here
    * and 0-based Spark-side; both emit 1-based inclusive char spans.
    */
  def dupSpansSql(n: Int): String =
    s"""WITH d AS (SELECT doc_id, ${norm("text")} AS nrm FROM documents),
        g AS (SELECT doc_id, unnest(generate_series(1, len(nrm) - ${n - 1})) AS pos, nrm
          FROM d WHERE len(nrm) >= $n),
        gk AS (SELECT doc_id, pos, ${gramKeyExpr(s"substr(nrm, pos, $n)", n)} AS key FROM g),
        dup AS (SELECT key FROM gk GROUP BY key HAVING count(*) > 1),
        dp AS (SELECT doc_id, pos FROM gk WHERE key IN (SELECT key FROM dup)),
        isl AS (SELECT doc_id, pos,
          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp)
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
          CAST(max(pos) + ${n - 1} AS BIGINT) AS span_end,
          count(*) AS n_grams
        FROM isl GROUP BY doc_id, grp"""

  /** Mirrors Dedup.substringRemoved: the dupSpans derivation runs as a
    * shadowed subquery, then a lag() window rebuilds the kept segments —
    * each span contributes the gap since the previous span's end (span
    * ends are strictly increasing per doc; overlapping CHAR spans from
    * near-adjacent position islands clamp to a 0-length segment, exactly
    * the Spark fold's greatest(_, 0)) — and the tail past the last span
    * closes the doc. Untouched docs pass through via the left join.
    */
  def substringRemovedSql(n: Int): String =
    s"""WITH d AS (SELECT doc_id, ${norm("text")} AS nrm FROM documents),
        spans AS (SELECT * FROM (${dupSpansSql(n)})),
        seg AS (SELECT doc_id, span_start, span_end,
          coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) AS prev_end
          FROM spans),
        pieces AS (SELECT seg.doc_id,
            string_agg(substr(d.nrm, (prev_end + 1)::INT,
              greatest(span_start - prev_end - 1, 0)::INT), '' ORDER BY span_start) AS head,
            max(span_end) AS last_end, count(*) AS n_spans
          FROM seg JOIN d ON seg.doc_id = d.doc_id GROUP BY seg.doc_id),
        joined AS (SELECT d.doc_id, d.nrm,
            CASE WHEN p.doc_id IS NULL THEN d.nrm
                 ELSE coalesce(p.head, '') || substr(d.nrm, (p.last_end + 1)::INT) END AS text_kept,
            coalesce(p.n_spans, 0) AS n_spans
          FROM d LEFT JOIN pieces p ON d.doc_id = p.doc_id)
        SELECT doc_id, text_kept,
          (len(nrm) - len(text_kept))::BIGINT AS chars_removed,
          n_spans::BIGINT AS n_spans
        FROM joined"""

  /** Mirrors Dedup.withInjectedParagraphs + Dedup.paragraphDedup: the
    * injected paragraph fixture rebuilt as a pure SQL derivation (token
    * chunks of [[graft.operators.Dedup.ParaWords]] words, header every
    * third doc, footer every seventh), then global keep-first at
    * paragraph granularity over the SAME (doc_id, idx) total order and
    * in-order reassembly. DuckDB's lockstep multi-unnest zips (idx,
    * para) exactly like Spark's posexplode.
    */
  def paragraphDedupSql: String = {
    import graft.operators.Dedup.{ParaWords, ParaHeader, ParaFooter}
    val sep = "chr(10) || chr(10)"
    s"""${toksCte()},
        fix AS (SELECT doc_id,
          (CASE WHEN doc_id % 3 = 0 THEN '$ParaHeader' || $sep ELSE '' END)
          || array_to_string(list_transform(
               generate_series(0, (len(tk) - 1) // $ParaWords),
               i -> array_to_string(list_slice(tk, i * $ParaWords + 1, i * $ParaWords + $ParaWords), ' ')),
             $sep)
          || (CASE WHEN doc_id % 7 = 0 THEN $sep || '$ParaFooter' ELSE '' END) AS text
          FROM t),
        p AS (SELECT doc_id,
            unnest(generate_series(0, len(parts) - 1)) AS idx,
            unnest(parts) AS para
          FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM fix)),
        r AS (SELECT doc_id, idx, para,
            row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rk
          FROM p)
        SELECT doc_id,
          coalesce(string_agg(CASE WHEN rk = 1 THEN para END, $sep ORDER BY idx), '') AS text_kept,
          count(CASE WHEN rk = 1 THEN 1 END) AS kept,
          count(CASE WHEN rk > 1 THEN 1 END) AS dropped
        FROM r GROUP BY doc_id"""
  }

  /** Mirrors Dedup.boilerplateRemoved over the same injected-paragraph
    * fixture as [[paragraphDedupSql]]: corpus-wide occurrence count per
    * paragraph value, every copy of a > maxOcc paragraph dropped.
    */
  def boilerplateRemovedSql(maxOcc: Long): String = {
    import graft.operators.Dedup.{ParaWords, ParaHeader, ParaFooter}
    val sep = "chr(10) || chr(10)"
    s"""${toksCte()},
        fix AS (SELECT doc_id,
          (CASE WHEN doc_id % 3 = 0 THEN '$ParaHeader' || $sep ELSE '' END)
          || array_to_string(list_transform(
               generate_series(0, (len(tk) - 1) // $ParaWords),
               i -> array_to_string(list_slice(tk, i * $ParaWords + 1, i * $ParaWords + $ParaWords), ' ')),
             $sep)
          || (CASE WHEN doc_id % 7 = 0 THEN $sep || '$ParaFooter' ELSE '' END) AS text
          FROM t),
        p AS (SELECT doc_id,
            unnest(generate_series(0, len(parts) - 1)) AS idx,
            unnest(parts) AS para
          FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM fix)),
        r AS (SELECT doc_id, idx, para,
            count(*) OVER (PARTITION BY para) AS occ
          FROM p)
        SELECT doc_id,
          coalesce(string_agg(CASE WHEN occ <= $maxOcc THEN para END, $sep ORDER BY idx), '') AS text_kept,
          count(CASE WHEN occ <= $maxOcc THEN 1 END) AS kept,
          count(CASE WHEN occ > $maxOcc THEN 1 END) AS dropped
        FROM r GROUP BY doc_id"""
  }

  /** Mirrors Dedup.clusters: the SAME LSH pair derivation as
    * lshPairsSql feeds a recursive-CTE transitive closure; every doc's
    * cluster id is the min doc_id reachable over near-dup edges. The
    * fixpoint of Spark's min-label propagation equals the min over the
    * transitive closure, so both engines agree exactly.
    */
  def clustersSql(n: Int, threshold: Double): String =
    clustersSqlOver(sigCte(n), threshold)

  /** Mirrors Dedup.familyStats over Dedup.clusters labels: the
    * recursive-CTE closure embeds as a nested-WITH CTE, then the same
    * two-aggregate datasheet (family sizes + per-source rollup).
    * Integer counts throughout; dup_rate is the one float, rounded to 4
    * on a double division both engines perform identically.
    */
  def familyStatsSql(n: Int, threshold: Double): String =
    s"""WITH labs AS (${clustersSql(n, threshold)}),
        sized AS (SELECT l.doc_id, l.cluster_id, d.source
          FROM labs l JOIN documents d USING (doc_id)),
        fam AS (SELECT cluster_id, count(*) AS fsize,
            count(DISTINCT source) AS nsrc
          FROM sized GROUP BY cluster_id)
        SELECT source,
          count(*) AS n_docs,
          count(DISTINCT s.cluster_id) AS n_families,
          CAST(sum(CASE WHEN fsize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
          CAST(sum(CASE WHEN nsrc > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS cross_source_docs,
          round(sum(CASE WHEN fsize > 1 THEN 1 ELSE 0 END)::DOUBLE
            / count(*)::DOUBLE, 4) AS dup_rate
        FROM sized s JOIN fam USING (cluster_id)
        GROUP BY source"""

  /** Mirrors Dedup.clusters(chainedDocs(…)), the CHAIN stress fixture:
    * even docs rebuilt as sliding `tok{j}` windows in SQL, then the same
    * min-label closure as [[clustersSql]] ([[clustersSqlOver]]).
    */
  def clustersChainSql(n: Int, threshold: Double): String = {
    import graft.operators.Dedup.{ChainWindow, ChainStride}
    val pre = s"""chain AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN array_to_string(list_transform(
                       generate_series((doc_id // 2) * $ChainStride,
                         (doc_id // 2) * $ChainStride + ${ChainWindow - 1}),
                       j -> 'tok' || CAST(j AS VARCHAR)), ' ')
                ELSE text END AS text
           FROM documents),
        """
    clustersSqlOver(sigCteOver(wordShCte(n, "chain", pre)), threshold)
  }

  /** Cluster labels over ANY pair query: the pair SQL embeds verbatim as
    * a nested-WITH CTE, then the same recursive min-label closure as
    * [[clustersSqlOver]]. The Spark side may collapse exact duplicates
    * before pairing ([[Dedup.semanticClusters]]/[[Dedup.editClusters]]) —
    * the oracle deliberately does NOT, so the green row proves the
    * collapse preserves the full pair graph's transitive closure.
    */
  private def componentsOverPairsSql(pairSql: String): String =
    s"""WITH RECURSIVE pairs0 AS ($pairSql),
        edges AS (SELECT a, b FROM pairs0 UNION ALL SELECT b AS a, a AS b FROM pairs0),
        reach AS (
          SELECT doc_id AS v, doc_id AS l FROM documents
          UNION
          SELECT e.a AS v, r.l AS l FROM edges e JOIN reach r ON r.v = e.b)
        SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v"""

  /** Mirrors Dedup.semanticClusters: closure over semanticPairsSql. */
  def semanticClustersSql(bands: Int, planesPerBand: Int, dims: Int,
                          threshold: Double): String =
    componentsOverPairsSql(semanticPairsSql(bands, planesPerBand, dims, threshold))

  /** Mirrors Dedup.editClusters on the skewed fixture: closure over
    * editPairsSkewedSql (node set = all documents — the fixture rewrites
    * texts, never ids).
    */
  def editClustersSql(n: Int, threshold: Double, maxDist: Int): String =
    componentsOverPairsSql(editPairsSkewedSql(n, threshold, maxDist))

  private def clustersSqlOver(sigCteStr: String, threshold: Double): String = {
    val body = s"""$sigCteStr,
        bands AS (SELECT doc_id, unnest([$bandKeysSql]) AS bk FROM sig),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id),
        pairs AS (SELECT a, b FROM (SELECT a, b,
            ${jaccardExpr("sa.shingles", "sb.shingles")} AS jac
          FROM cand JOIN sh sa ON cand.a = sa.doc_id
                    JOIN sh sb ON cand.b = sb.doc_id) WHERE jac >= $threshold),
        edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        reach AS (
          SELECT doc_id AS v, doc_id AS l FROM documents
          UNION
          SELECT e.a AS v, r.l AS l FROM edges e JOIN reach r ON r.v = e.b)
        SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v"""
    "WITH RECURSIVE " + body.stripPrefix("WITH ")
  }

  private def simhashBitsExpr: String =
    (0 until Dedup.SimHashBits).map { j =>
      s"CASE WHEN 2 * coalesce(list_sum(list_transform(hs, h -> (h >> $j) & 1)), 0) > len(hs) THEN ${1L << j} ELSE 0 END"
    }.mkString("\n          + ")

  def simhashSql: String =
    s"""WITH t AS (SELECT doc_id,
          list_transform(${toks(norm("text"))}, tok -> ${base60("tok")}) AS hs
        FROM documents)
        SELECT doc_id, CAST($simhashBitsExpr AS BIGINT) AS simhash FROM t"""

  /** Mirrors Dedup.simhashPairs: pigeonhole block keys over the simhash
    * CTE, per-block equality self-join, popcount(xor) verify. Integer-only
    * end to end (the signature, the block slices, the Hamming count), so
    * the engines cannot drift.
    */
  def simhashPairsSql(maxHamming: Int): String = {
    val blocks = maxHamming + 1
    val width = Dedup.SimHashBits / blocks
    val mask = (1L << width) - 1L
    s"""WITH t AS (SELECT doc_id,
          list_transform(${toks(norm("text"))}, tok -> ${base60("tok")}) AS hs
        FROM documents),
        s AS (SELECT doc_id, CAST($simhashBitsExpr AS BIGINT) AS simhash FROM t),
        k AS (SELECT doc_id, simhash, blk, (simhash >> (blk * $width)) & $mask AS kv
          FROM s CROSS JOIN (SELECT unnest(generate_series(0, ${blocks - 1})) AS blk))
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
          CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        FROM k x JOIN k y ON x.blk = y.blk AND x.kv = y.kv AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxHamming"""
  }

  // ---------------------------------------------------------- similarity

  /** Sequential left-fold sum of a DOUBLE-list expression — the same
    * association order as Spark's `aggregate(…, 0.0, _+_)`.
    */
  private def lsum(listExpr: String): String =
    s"list_reduce(list_concat([0.0], $listExpr), (acc, x) -> acc + x)"

  def dot(a: String, b: String, dims: Int): String =
    lsum(s"list_transform(generate_series(1, $dims), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)")

  def l2(a: String): String =
    s"sqrt(${lsum(s"list_transform($a, x -> x::DOUBLE * x::DOUBLE)")})"

  def cosine(a: String, b: String, dims: Int): String =
    s"${dot(a, b, dims)} / (${l2(a)} * ${l2(b)})"

  /** SRP bucket over `planes` DetHash hyperplanes, matching
    * Similarity.srpBucket bit for bit.
    */
  def srpBucket(v: String, planes: Int, dims: Int): String =
    srpBucketFrom(v, 0, planes, dims)

  /** SRP bucket over the plane range [planeOffset, planeOffset + planes) —
    * the per-band bucket, matching Similarity.srpBucketFrom.
    */
  def srpBucketFrom(v: String, planeOffset: Int, planes: Int, dims: Int): String = {
    val bits = (0 until planes).map { p =>
      val w = DetHash.hyperplane(planeOffset + p, dims)
        .map(x => if (x > 0) "1.0" else "-1.0").mkString(", ")
      val d = lsum(s"list_transform(generate_series(1, $dims), i -> $v[i]::DOUBLE * ([$w])[i])")
      s"CASE WHEN $d > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
    s"CAST($bits AS BIGINT)"
  }

  def bruteForceTopKSql(qid: Long, k: Int, dims: Int): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid)
        SELECT vec_id, label, round(${cosine("embedding", "qe", dims)}, 4) AS cos_sim
        FROM embeddings, q WHERE vec_id <> $qid
        ORDER BY cos_sim DESC, vec_id ASC LIMIT $k"""

  def annTopKSql(qid: Long, k: Int, planes: Int, dims: Int): String =
    s"""WITH wb AS (SELECT vec_id, label, embedding,
          ${srpBucket("embedding", planes, dims)} AS bucket FROM embeddings),
        q AS (SELECT embedding AS qe, bucket AS qb FROM wb WHERE vec_id = $qid)
        SELECT vec_id, label, round(${cosine("embedding", "qe", dims)}, 4) AS cos_sim
        FROM wb, q WHERE vec_id <> $qid AND bucket = qb
        ORDER BY cos_sim DESC, vec_id ASC LIMIT $k"""

  /** Mirrors Similarity.rangeSearch: the annTopK probe with a threshold
    * filter instead of the top-k cutoff.
    */
  def rangeSearchSql(qid: Long, minCos: Double, planes: Int, dims: Int): String =
    s"""WITH wb AS (SELECT vec_id, label, embedding,
          ${srpBucket("embedding", planes, dims)} AS bucket FROM embeddings),
        q AS (SELECT embedding AS qe, bucket AS qb FROM wb WHERE vec_id = $qid)
        SELECT vec_id, label, round(${cosine("embedding", "qe", dims)}, 4) AS cos_sim
        FROM wb, q WHERE vec_id <> $qid AND bucket = qb
          AND round(${cosine("embedding", "qe", dims)}, 4) >= $minCos"""

  /** The trained-centroid CTE chain (final K-row relation named `c`),
    * mirroring Similarity.ivfCentroids: seed = vec_id < K, `iters` Lloyd
    * rounds. The centroid update sums 2²⁰-QUANTIZED coordinates as
    * BIGINTs (floor(x·2²⁰ + 0.5) — Similarity.QuantScale), so the sum is
    * order-independent in both engines and the mean is one IEEE division
    * of exactly-representable operands; assignment ranks by the same
    * sequential-fold cosine as the Spark plan; empty clusters keep their
    * previous centroid (LEFT JOIN + coalesce).
    */
  private def ivfCentsCtes(numCentroids: Int, iters: Int, dims: Int,
                           sampleMod: Int = 1): String = {
    // sampleMod mirrors Similarity.ivfCentroids: Lloyd rounds train on
    // the vec_id % sampleMod == 0 slice only
    val trainFilter = if (sampleMod > 1) s" WHERE e.vec_id % $sampleMod = 0" else ""
    val seed =
      s"""c0 AS (SELECT vec_id AS c_id,
            list_transform(embedding, x -> x::DOUBLE) AS c_emb
          FROM embeddings WHERE vec_id < $numCentroids),
        dg AS (SELECT unnest(generate_series(1, $dims)) AS dim)"""
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, embedding, c_id FROM (
            SELECT e.vec_id, e.embedding, cc.c_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosine("e.embedding", "cc.c_emb", dims)} DESC, cc.c_id ASC) AS rn
            FROM embeddings e CROSS JOIN c${i - 1} cc$trainFilter) WHERE rn = 1),
        u$i AS (SELECT c_id, dim,
            sum(CAST(floor(embedding[dim]::DOUBLE * 1048576.0 + 0.5) AS BIGINT)) AS sq,
            count(*) AS n
          FROM a$i CROSS JOIN dg GROUP BY c_id, dim),
        m$i AS (SELECT c_id,
            list(sq::DOUBLE / (n * 1048576)::DOUBLE ORDER BY dim) AS c_emb
          FROM u$i GROUP BY c_id),
        c$i AS (SELECT p.c_id, coalesce(m$i.c_emb, p.c_emb) AS c_emb
          FROM c${i - 1} p LEFT JOIN m$i USING (c_id))"""
    }
    (seed +: rounds).mkString(",\n        ") +
      s",\n        c AS (SELECT c_id, c_emb FROM c$iters)"
  }

  /** Mirrors Similarity.ivfTopK: trained centroids ([[ivfCentsCtes]]),
    * rank-1 centroid assignment + top-nprobe list probe, all tie-broken
    * by centroid id.
    */
  def ivfTopKSql(qid: Long, k: Int, numCentroids: Int, nprobe: Int, dims: Int,
                 iters: Int = 2, sampleMod: Int = 1): String =
    s"""WITH ${ivfCentsCtes(numCentroids, iters, dims, sampleMod)},
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid),
        asg AS (SELECT vec_id, label, embedding, c_id FROM (
            SELECT e.vec_id, e.label, e.embedding, c.c_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosine("e.embedding", "c.c_emb", dims)} DESC, c.c_id ASC) AS rn
            FROM embeddings e CROSS JOIN c) WHERE rn = 1),
        qtop AS (SELECT c_id FROM c, q
          ORDER BY ${cosine("qe", "c_emb", dims)} DESC, c_id ASC LIMIT $nprobe)
        SELECT vec_id, label, round(${cosine("embedding", "qe", dims)}, 4) AS cos_sim
        FROM asg, q
        WHERE vec_id <> $qid AND c_id IN (SELECT c_id FROM qtop)
        ORDER BY cos_sim DESC, vec_id ASC LIMIT $k"""

  /** Mirrors Similarity.semDedup: trained centroids ([[ivfCentsCtes]]),
    * rank-1 assignment, pairwise cosine WITHIN each cluster only,
    * keep-first duplicate rule (a vector is a dup iff a same-cluster
    * partner with smaller vec_id clears the threshold).
    */
  def semDedupSql(numCentroids: Int, iters: Int, dims: Int,
                  threshold: Double): String =
    s"""WITH ${ivfCentsCtes(numCentroids, iters, dims)},
        asg AS (SELECT vec_id, embedding, c_id FROM (
            SELECT e.vec_id, e.embedding, c.c_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosine("e.embedding", "c.c_emb", dims)} DESC, c.c_id ASC) AS rn
            FROM embeddings e CROSS JOIN c) WHERE rn = 1)
        SELECT b.vec_id AS vec_id, b.c_id AS c_id,
          min(a.vec_id) AS dup_of, count(*) AS n_dups
        FROM asg a JOIN asg b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        WHERE ${cosine("a.embedding", "b.embedding", dims)} > $threshold::DOUBLE
        GROUP BY b.vec_id, b.c_id"""

  /** Mirrors Similarity.prunePrototypes: rank-1 assignment KEEPING the
    * winning cosine as proto_sim, per-cluster prototypicality rank, drop
    * the ceil(|cluster| · dropFrac) most central members. The `::DOUBLE`
    * on dropFrac forces the same IEEE multiply Spark runs (a bare DuckDB
    * decimal literal would round cnt·frac differently at exact-integer
    * products).
    */
  def prunePrototypesSql(numCentroids: Int, iters: Int, dims: Int,
                         dropFrac: Double): String =
    s"""WITH ${ivfCentsCtes(numCentroids, iters, dims)},
        asg AS (SELECT vec_id, c_id, proto_sim FROM (
            SELECT e.vec_id, c.c_id,
              ${cosine("e.embedding", "c.c_emb", dims)} AS proto_sim,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosine("e.embedding", "c.c_emb", dims)} DESC, c.c_id ASC) AS rn
            FROM embeddings e CROSS JOIN c) WHERE rn = 1),
        rk AS (SELECT vec_id, c_id, proto_sim,
            CAST(row_number() OVER (PARTITION BY c_id
              ORDER BY proto_sim DESC, vec_id ASC) AS BIGINT) AS rk,
            count(*) OVER (PARTITION BY c_id) AS cnt
          FROM asg)
        SELECT vec_id, c_id, rk, round(proto_sim, 4) AS proto_sim
        FROM rk WHERE rk > ceil(cnt::DOUBLE * $dropFrac::DOUBLE)"""

  /** Mirrors Similarity.quantizedTopK: symmetric int8 quantization
    * (scale = max|x|/127 as ONE division, code = floor(x/scale + 0.5) —
    * the exact operation order the Spark side uses, so codes agree bit
    * for bit), then cosine over the integer codes (scales cancel).
    */
  def quantizedTopKSql(qid: Long, k: Int, dims: Int): String =
    s"""WITH s AS (SELECT vec_id, label, embedding,
          greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 0.0) / 127.0 AS scale
        FROM embeddings),
        qz AS (SELECT vec_id, label,
          CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
          ELSE list_transform(embedding,
            x -> CAST(floor(x::DOUBLE / scale + 0.5) AS BIGINT)) END AS codes
        FROM s),
        q AS (SELECT codes AS qc FROM qz WHERE vec_id = $qid)
        SELECT vec_id, label, round(${cosine("codes", "qc", dims)}, 4) AS cos_sim
        FROM qz, q WHERE vec_id <> $qid
        ORDER BY cos_sim DESC, vec_id ASC LIMIT $k"""

  def bucketHistogramSql(planes: Int, dims: Int): String =
    s"""SELECT ${srpBucket("embedding", planes, dims)} AS bucket, count(*) AS cnt
        FROM embeddings GROUP BY 1"""

  /** Sequential-fold squared L2 in dimension order — the IEEE operation
    * sequence of Similarity.l2Dist.
    */
  private def l2d(a: String, b: String, n: Int): String =
    lsum(s"list_transform(generate_series(1, $n), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))")

  /** The PQ codebook CTE chain (final relation `bk`: m, c_id, c_emb),
    * mirroring Similarity.pqCodebooks: all m subspace k-means runs ride
    * one (m, c_id)-keyed Lloyd chain — seed = subvectors of vec_id < ks,
    * integer-quantized centroid updates, empty codewords kept, L2
    * assignment tie-broken by code id.
    */
  /** CTE names are `p`-prefixed so the chain composes with
    * [[ivfCentsCtes]] in one WITH clause ([[ivfPqTopKSql]]) without
    * collisions.
    */
  private def pqBooksCtes(m: Int, ks: Int, iters: Int, dims: Int): String = {
    val sub = dims / m
    val seed =
      s"""mg AS (SELECT unnest(generate_series(0, ${m - 1})) AS m),
        sv AS (SELECT e.vec_id, mg.m,
            list_transform(generate_series(1, $sub), i -> e.embedding[mg.m * $sub + i]::DOUBLE) AS s_emb
          FROM embeddings e CROSS JOIN mg),
        b0 AS (SELECT m, vec_id AS c_id, s_emb AS c_emb FROM sv WHERE vec_id < $ks),
        pdg AS (SELECT unnest(generate_series(1, $sub)) AS dim)"""
    val rounds = (1 to iters).map { i =>
      s"""pa$i AS (SELECT m, c_id, s_emb FROM (
            SELECT sv.m, sv.s_emb, bb.c_id,
              row_number() OVER (PARTITION BY sv.vec_id, sv.m
                ORDER BY ${l2d("sv.s_emb", "bb.c_emb", sub)} ASC, bb.c_id ASC) AS rn
            FROM sv JOIN b${i - 1} bb ON sv.m = bb.m) WHERE rn = 1),
        pu$i AS (SELECT m, c_id, dim,
            sum(CAST(floor(s_emb[dim] * 1048576.0 + 0.5) AS BIGINT)) AS sq,
            count(*) AS n
          FROM pa$i CROSS JOIN pdg GROUP BY m, c_id, dim),
        pm$i AS (SELECT m, c_id,
            list(sq::DOUBLE / (n * 1048576)::DOUBLE ORDER BY dim) AS c_emb
          FROM pu$i GROUP BY m, c_id),
        b$i AS (SELECT p.m, p.c_id, coalesce(pm$i.c_emb, p.c_emb) AS c_emb
          FROM b${i - 1} p LEFT JOIN pm$i USING (m, c_id))"""
    }
    (seed +: rounds).mkString(",\n        ") +
      s",\n        bk AS (SELECT m, c_id, c_emb FROM b$iters)"
  }

  /** Mirrors Similarity.pqTopK: trained codebooks ([[pqBooksCtes]]),
    * per-(vector, subspace) codeword assignment, the per-query ADC
    * partial table, and the score folded in subspace order (ordered
    * `list(... ORDER BY m)` → sequential reduce = Spark's fold), so the
    * approximate cosine agrees bit for bit.
    */
  def pqTopKSql(qid: Long, k: Int, m: Int, ks: Int, iters: Int,
                dims: Int): String = {
    val sub = dims / m
    s"""WITH ${pqBooksCtes(m, ks, iters, dims)},
        codes AS (SELECT vec_id, m, c_id FROM (
            SELECT sv.vec_id, sv.m, bk.c_id,
              row_number() OVER (PARTITION BY sv.vec_id, sv.m
                ORDER BY ${l2d("sv.s_emb", "bk.c_emb", sub)} ASC, bk.c_id ASC) AS rn
            FROM sv JOIN bk ON sv.m = bk.m) WHERE rn = 1),
        q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS q_emb
          FROM embeddings WHERE vec_id = $qid),
        adc AS (SELECT bk.m, bk.c_id,
            ${lsum(s"list_transform(generate_series(1, $sub), i -> q_emb[bk.m * $sub + i] * bk.c_emb[i])")} AS pdot,
            ${lsum(s"list_transform(generate_series(1, $sub), i -> bk.c_emb[i] * bk.c_emb[i])")} AS pnrm
          FROM bk, q),
        sc AS (SELECT c.vec_id,
            ${lsum("list(a.pdot ORDER BY c.m)")} AS sdot,
            ${lsum("list(a.pnrm ORDER BY c.m)")} AS snrm
          FROM codes c JOIN adc a ON c.m = a.m AND c.c_id = a.c_id
          GROUP BY c.vec_id),
        qn AS (SELECT sqrt(${lsum(s"list_transform(generate_series(1, $dims), i -> q_emb[i] * q_emb[i])")}) AS nq FROM q)
        SELECT e.vec_id, e.label,
          round(sc.sdot / (qn.nq * sqrt(sc.snrm)), 4) AS pq_sim
        FROM sc JOIN embeddings e USING (vec_id), qn
        WHERE e.vec_id <> $qid
        ORDER BY pq_sim DESC, vec_id ASC LIMIT $k"""
  }

  /** Mirrors Similarity.ivfPqTopK: the coarse-quantizer chain
    * ([[ivfCentsCtes]]) routes to nprobe lists, the PQ chain
    * ([[pqBooksCtes]]) scores ONLY the listed vectors by ADC — the two
    * trainers compose in one WITH clause.
    */
  def ivfPqTopKSql(qid: Long, k: Int, numCentroids: Int, nprobe: Int,
                   m: Int, ks: Int, iters: Int, dims: Int): String = {
    val sub = dims / m
    s"""WITH ${ivfCentsCtes(numCentroids, iters, dims)},
        ${pqBooksCtes(m, ks, iters, dims)},
        q AS (SELECT embedding AS qe,
            list_transform(embedding, x -> x::DOUBLE) AS q_emb
          FROM embeddings WHERE vec_id = $qid),
        asg AS (SELECT vec_id, c_id FROM (
            SELECT e.vec_id, c.c_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosine("e.embedding", "c.c_emb", dims)} DESC, c.c_id ASC) AS rn
            FROM embeddings e CROSS JOIN c) WHERE rn = 1),
        qtop AS (SELECT c_id FROM c, q
          ORDER BY ${cosine("qe", "c_emb", dims)} DESC, c_id ASC LIMIT $nprobe),
        listed AS (SELECT vec_id FROM asg
          WHERE c_id IN (SELECT c_id FROM qtop) AND vec_id <> $qid),
        codes AS (SELECT vec_id, m, c_id FROM (
            SELECT sv.vec_id, sv.m, bk.c_id,
              row_number() OVER (PARTITION BY sv.vec_id, sv.m
                ORDER BY ${l2d("sv.s_emb", "bk.c_emb", sub)} ASC, bk.c_id ASC) AS rn
            FROM sv JOIN bk ON sv.m = bk.m
            WHERE sv.vec_id IN (SELECT vec_id FROM listed)) WHERE rn = 1),
        adc AS (SELECT bk.m, bk.c_id,
            ${lsum(s"list_transform(generate_series(1, $sub), i -> q_emb[bk.m * $sub + i] * bk.c_emb[i])")} AS pdot,
            ${lsum(s"list_transform(generate_series(1, $sub), i -> bk.c_emb[i] * bk.c_emb[i])")} AS pnrm
          FROM bk, q),
        sc AS (SELECT cd.vec_id,
            ${lsum("list(a.pdot ORDER BY cd.m)")} AS sdot,
            ${lsum("list(a.pnrm ORDER BY cd.m)")} AS snrm
          FROM codes cd JOIN adc a ON cd.m = a.m AND cd.c_id = a.c_id
          GROUP BY cd.vec_id),
        qn AS (SELECT sqrt(${lsum(s"list_transform(generate_series(1, $dims), i -> q_emb[i] * q_emb[i])")}) AS nq FROM q)
        SELECT e.vec_id, e.label,
          round(sc.sdot / (qn.nq * sqrt(sc.snrm)), 4) AS pq_sim
        FROM sc JOIN embeddings e USING (vec_id), qn
        ORDER BY pq_sim DESC, vec_id ASC LIMIT $k"""
  }

  // ------------------------------------------------------------ temporal

  private val tsFmt = "%Y-%m-%d %H:%M:%S.%f"

  /** Mirrors Temporal.purchaseAttribution: union + running last_value
    * window with the same (ts, side, tie) total order.
    */
  def asofAttributionSql: String =
    s"""WITH u AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, 1 AS m,
                 NULL::VARCHAR AS p_type, NULL::TIMESTAMP AS p_ts
          FROM events WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, CAST(ts AS TIMESTAMP), event_id, 0, event_type, CAST(ts AS TIMESTAMP)
          FROM events WHERE event_type <> 'purchase'),
        w AS (SELECT *,
          last_value(p_type IGNORE NULLS) OVER win AS a_type,
          last_value(p_ts IGNORE NULLS) OVER win AS a_ts
          FROM u
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, m, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT event_id, user_id, a_type AS prev_type,
               strftime(a_ts, '$tsFmt') AS prev_ts
        FROM w WHERE m = 1"""

  /** Mirrors Temporal.purchaseAttributionWithin: the same as-of chain
    * with a staleness gate — both payload columns null when the match is
    * older than the tolerance (integer µs comparison in both engines).
    */
  def asofAttributionWithinSql(tolSec: Long): String =
    s"""WITH u AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, 1 AS m,
                 NULL::VARCHAR AS p_type, NULL::TIMESTAMP AS p_ts
          FROM events WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, CAST(ts AS TIMESTAMP), event_id, 0, event_type, CAST(ts AS TIMESTAMP)
          FROM events WHERE event_type <> 'purchase'),
        w AS (SELECT *,
          last_value(p_type IGNORE NULLS) OVER win AS a_type,
          last_value(p_ts IGNORE NULLS) OVER win AS a_ts
          FROM u
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, m, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        f AS (SELECT *,
          (a_ts IS NOT NULL AND epoch_us(ts) - epoch_us(a_ts) <= ${tolSec}000000) AS fresh
          FROM w)
        SELECT event_id, user_id,
               CASE WHEN fresh THEN a_type END AS prev_type,
               CASE WHEN fresh THEN strftime(a_ts, '$tsFmt') END AS prev_ts
        FROM f WHERE m = 1"""

  /** Mirrors Temporal.sessionCounts: gaps-and-islands with a strict
    * >= gap break (Spark session_window merges only on strict overlap).
    */
  def sessionCountsSql(gapMinutes: Int): String =
    s"""WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    >= INTERVAL $gapMinutes MINUTE
               THEN 1 ELSE 0 END AS brk
          FROM events),
        s AS (SELECT user_id, ts,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM x)
        SELECT user_id,
          strftime(min(ts), '$tsFmt') AS session_start,
          strftime(max(ts) + INTERVAL $gapMinutes MINUTE, '$tsFmt') AS session_end,
          count(*) AS n_events
        FROM s GROUP BY user_id, sid"""

  /** Mirrors Temporal.hoppingCounts: each event expands to length/slide
    * slide-aligned windows.
    */
  def hoppingCountsSql(lengthSec: Int, slideSec: Int): String = {
    val slideUs = slideSec * 1000000L
    val hops = lengthSec / slideSec
    s"""WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        w AS (SELECT event_type,
          (us // $slideUs) * $slideUs - j * $slideUs AS ws
          FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${hops - 1})) AS j) t)
        SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS cnt
        FROM w GROUP BY 1, 2"""
  }

  /** Mirrors Temporal.priorActivityCounts: the bucketed equi-join form is
    * oracle-checked against DuckDB's straightforward inequality join —
    * proving the bucketing is invisible in the result.
    */
  def priorActivitySql(windowUs: Long): String =
    s"""SELECT p.event_id, p.user_id, count(e.e_user) AS n_prior_events
        FROM (SELECT event_id, user_id, epoch_us(ts) AS p_us
              FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT user_id AS e_user, epoch_us(ts) AS e_us FROM events) e
          ON p.user_id = e.e_user
          AND e.e_us >= p.p_us - $windowUs AND e.e_us < p.p_us
        GROUP BY 1, 2"""

  // ---------------------------------------------------------- multimodal

  /** The md5-salted id hash used by Multimodal.assetsFromDocuments. */
  private def mh(salt: String): String = base60(s"'$salt:' || doc_id")

  /** The deterministic asset corpus (kind + meta fields inline). */
  private def assetsCte: String =
    s"""WITH a AS (SELECT doc_id AS asset_id, text,
        (['image','audio','video'])[(${mh("kind")} % 3) + 1] AS kind,
        CAST(${mh("w")} % 1280 + 16 AS INTEGER) AS width,
        CAST(${mh("h")} % 720 + 16 AS INTEGER) AS height,
        (${mh("dur")} % 120000 + 1000) AS duration_ms
        FROM documents)"""

  def assetStatsSql: String =
    s"""$assetsCte
        SELECT kind, count(*) AS n_assets,
        CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        avg(width::DOUBLE) AS avg_width,
        avg(duration_ms::DOUBLE) AS avg_duration_ms
        FROM a GROUP BY kind"""

  def frameSampleSql(strideMs: Long): String =
    s"""$assetsCte
        SELECT asset_id, unnest(generate_series(0, duration_ms - 1, $strideMs)) AS frame_ms
        FROM a WHERE kind = 'video'"""

  def resizeSql(maxW: Int, maxH: Int): String =
    s"""$assetsCte
        SELECT asset_id, kind,
        CAST(floor(width::DOUBLE * least($maxW.0 / width::DOUBLE, $maxH.0 / height::DOUBLE, 1.0)) AS INTEGER) AS width,
        CAST(floor(height::DOUBLE * least($maxW.0 / width::DOUBLE, $maxH.0 / height::DOUBLE, 1.0)) AS INTEGER) AS height
        FROM a"""

  /** Mirrors Multimodal.decodeOneStub: md5 digest of the UTF-8 payload,
    * float-rounded md5-affine pseudo-embedding, sequential-order norm.
    */
  def decodeFeaturesSql(dims: Int): String = {
    val embs = (0 until dims).map { i =>
      s"CAST((${base60(s"digest || ':' || $i")} % 2001 - 1000) / 1000.0 AS FLOAT) AS e$i"
    }.mkString(",\n          ")
    val norm = (0 until dims).map(i => s"(e$i::DOUBLE * e$i::DOUBLE)")
      .foldLeft("0.0")((acc, t) => s"($acc + $t)")
    s"""$assetsCte,
        d AS (SELECT asset_id, kind,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          md5(text) AS digest FROM a),
        e AS (SELECT asset_id, kind, n_bytes, digest,
          $embs
        FROM d)
        SELECT asset_id, kind, n_bytes, digest, e0::DOUBLE AS emb_0,
          sqrt($norm) AS emb_norm FROM e"""
  }

  /** The image fixture's dimension derivation (mirrors
    * Multimodal.imageAssets — same salts, same mods).
    */
  private def imageDimsCte: String = {
    import graft.operators.Multimodal.{ImgWMod, ImgWMin, ImgHMod, ImgHMin}
    s"""WITH dims AS (SELECT doc_id AS asset_id,
        CAST(${mh("iw")} % $ImgWMod + $ImgWMin AS INTEGER) AS w,
        CAST(${mh("ih")} % $ImgHMod + $ImgHMin AS INTEGER) AS h
        FROM documents)"""
  }

  /** Per-channel pixel-sum terms from the closed-form pixel formula
    * (mirrors Multimodal.pixelR/G/B over coordinate columns `x`, `y`;
    * `key` is the formula's id term — asset_id for stills, the
    * per-frame key for video frames).
    */
  private def pixelSums(key: String = "asset_id"): String =
    s"""CAST(sum((x*7 + y*11 + $key) % 256) AS BIGINT) AS r_sum,
        CAST(sum((x*13 + y*3 + 2*$key) % 256) AS BIGINT) AS g_sum,
        CAST(sum((x*1 + y*17 + 5*$key) % 256) AS BIGINT) AS b_sum"""

  /** Mirrors Multimodal.decodeImageStats — but where the engine DECODES
    * real PNG/BMP bytes (javax.imageio) and sums the raster, the oracle
    * recomputes the same sums from the closed-form pixel formula the
    * fixture was generated from. Lossless 24-bit codecs make the two
    * derivations exactly equal: a hash match here proves a real
    * bytes→pixels decode happened on the engine side.
    */
  def imageDecodeSql: String =
    s"""$imageDimsCte,
        xs AS (SELECT asset_id, w, h,
          unnest(generate_series(0, CAST(w - 1 AS BIGINT))) AS x FROM dims),
        px AS (SELECT asset_id, w, h, x,
          unnest(generate_series(0, CAST(h - 1 AS BIGINT))) AS y FROM xs)
        SELECT asset_id, w AS width, h AS height,
        ${pixelSums()}
        FROM px GROUP BY asset_id, w, h"""

  /** Mirrors Multimodal.resampleImageStats: nearest-neighbour source
    * coordinate sx = x·w / tw (integer floor) into the same pixel formula.
    */
  def imageResampleSql(tw: Int, th: Int): String =
    s"""$imageDimsCte,
        xs AS (SELECT asset_id, w, h,
          unnest(generate_series(0, ${tw - 1})) AS tx FROM dims),
        tpx AS (SELECT asset_id, tx,
          unnest(generate_series(0, ${th - 1})) AS ty FROM xs),
        px AS (SELECT t.asset_id,
          CAST(t.tx * d.w // $tw AS BIGINT) AS x,
          CAST(t.ty * d.h // $th AS BIGINT) AS y
          FROM tpx t JOIN dims d ON t.asset_id = d.asset_id)
        SELECT asset_id, $tw AS width, $th AS height,
        ${pixelSums()}
        FROM px GROUP BY asset_id"""

  /** The per-asset 56-bit dHash CTE chain (closed-form recompute of
    * Multimodal.imageDHash — the engine derives the same hash from real
    * decoded bytes).
    */
  private def dhashCtes: String =
    s"""$imageDimsCte,
        xs AS (SELECT asset_id, w, h, unnest(generate_series(0, 8)) AS gx FROM dims),
        gpx AS (SELECT asset_id, w, h, gx, unnest(generate_series(0, 6)) AS gy FROM xs),
        g AS (SELECT asset_id, gx, gy,
          ((sx*7 + sy*11 + asset_id) % 256) + ((sx*13 + sy*3 + 2*asset_id) % 256)
            + ((sx*1 + sy*17 + 5*asset_id) % 256) AS gray
          FROM (SELECT asset_id, gx, gy,
            CAST(gx * w // 9 AS BIGINT) AS sx,
            CAST(gy * h // 7 AS BIGINT) AS sy FROM gpx)),
        b AS (SELECT a.asset_id, a.gx AS x, a.gy AS y,
          CASE WHEN n.gray > a.gray THEN 1::BIGINT ELSE 0::BIGINT END AS bit
          FROM g a JOIN g n ON a.asset_id = n.asset_id
            AND n.gx = a.gx + 1 AND n.gy = a.gy
          WHERE a.gx < 8),
        hsh AS (SELECT asset_id,
          CAST(bit_or(bit << CAST(y*8 + x AS INTEGER)) AS BIGINT) AS dhash
          FROM b GROUP BY asset_id)"""

  def imageDHashSql: String =
    s"""$dhashCtes
        SELECT d.asset_id, d.w AS width, d.h AS height, hsh.dhash
        FROM dims d JOIN hsh USING (asset_id)"""

  def imageDHashGroupsSql: String =
    s"""$dhashCtes
        SELECT dhash, count(*) AS n_images, min(asset_id) AS keep_asset_id
        FROM hsh GROUP BY dhash"""

  /** Mirrors Multimodal.decodeAudioStats: where the engine parses a REAL
    * WAV container and decodes 16-bit PCM frames, the oracle recomputes
    * the integer sample statistics from the closed-form sample formula
    * (Multimodal.audioSample) — lossless PCM makes them exactly equal.
    */
  def audioDecodeSql: String = {
    import graft.operators.Multimodal.{AudNMod, AudNMin}
    s"""WITH adim AS (SELECT doc_id AS asset_id,
          CAST(${mh("ns")} % $AudNMod + $AudNMin AS INTEGER) AS n
          FROM documents),
        sm AS (SELECT asset_id, n,
          unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i FROM adim),
        v AS (SELECT asset_id, n,
          ((i * 2003 + asset_id * 31) % 65536) - 32768 AS s FROM sm)
        SELECT asset_id, CAST(n AS BIGINT) AS n_samples,
          CAST(sum(s) AS BIGINT) AS sample_sum,
          CAST(sum(abs(s)) AS BIGINT) AS abs_sum,
          CAST(sum(s * s) AS BIGINT) AS energy
        FROM v GROUP BY asset_id, n"""
  }

  /** Mirrors Multimodal.decodeAudioAutocorr: lag autocorrelations and
    * energy from the closed-form samples as LIST operations (1-based
    * list indexing; empty lag window → coalesce 0).
    */
  def audioAutocorrSql: String = {
    import graft.operators.Multimodal.{AudNMod, AudNMin}
    def acExpr(lag: Int): String =
      s"""coalesce(list_sum(list_transform(
            generate_series(1, CAST(n - $lag AS BIGINT)),
            j -> ls[CAST(j AS INTEGER)] * ls[CAST(j + $lag AS INTEGER)])), 0)"""
    s"""WITH adim AS (SELECT doc_id AS asset_id,
          CAST(${mh("ns")} % $AudNMod + $AudNMin AS INTEGER) AS n
          FROM documents),
        lists AS (SELECT asset_id, n,
          list_transform(generate_series(0, CAST(n - 1 AS BIGINT)),
            i -> ((i * 2003 + asset_id * 31) % 65536) - 32768) AS ls
          FROM adim)
        SELECT asset_id, CAST(n AS BIGINT) AS n_samples,
          CAST(${acExpr(0)} AS BIGINT) AS energy,
          CAST(${acExpr(1)} AS BIGINT) AS ac1,
          CAST(${acExpr(8)} AS BIGINT) AS ac8,
          CAST(${acExpr(64)} AS BIGINT) AS ac64
        FROM lists"""
  }

  /** Mirrors Multimodal.decodeFrameStats: the sampled frames' channel
    * sums from the per-frame pixel key k = asset_id·131 + f.
    */
  def videoFramesSql(stride: Int): String = {
    import graft.operators.Multimodal.{VidFMod, VidFMin, VidWMod, VidWMin, VidHMod, VidHMin}
    s"""WITH vdim AS (SELECT doc_id AS asset_id,
          CAST(${mh("nf")} % $VidFMod + $VidFMin AS INTEGER) AS nf,
          CAST(${mh("vw")} % $VidWMod + $VidWMin AS INTEGER) AS w,
          CAST(${mh("vh")} % $VidHMod + $VidHMin AS INTEGER) AS h
          FROM documents),
        fr AS (SELECT asset_id, w, h,
          unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f FROM vdim),
        sf AS (SELECT asset_id, CAST(f AS INTEGER) AS frame_idx, w, h,
          asset_id * 131 + f AS k FROM fr WHERE f % $stride = 0),
        xs AS (SELECT asset_id, frame_idx, w, h, k,
          unnest(generate_series(0, CAST(w - 1 AS BIGINT))) AS x FROM sf),
        px AS (SELECT asset_id, frame_idx, w, h, k, x,
          unnest(generate_series(0, CAST(h - 1 AS BIGINT))) AS y FROM xs)
        SELECT asset_id, frame_idx, w AS width, h AS height,
        ${pixelSums("k")}
        FROM px GROUP BY asset_id, frame_idx, w, h"""
  }

  /** Mirrors Similarity.knnJoin: the same banded-SRP candidate generation
    * as [[embeddingNearDupSql]] but DIRECTED (a ≠ b, both orientations),
    * exact-cosine scored, then ranked per source vector. The hyperplane
    * constants render from the same DetHash generator as the fused
    * SrpBandKeys expression in the plan.
    */
  def knnJoinSql(k: Int, bands: Int, planesPerBand: Int, dims: Int): String = {
    val keys = (0 until bands).map { b =>
      s"(${b.toLong * (1L << planesPerBand)} + ${
        srpBucketFrom("embedding", b * planesPerBand, planesPerBand, dims)})"
    }.mkString(",\n          ")
    s"""WITH e AS (SELECT vec_id, unnest([$keys]) AS bk FROM embeddings),
        cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM e x JOIN e y ON x.bk = y.bk AND x.vec_id <> y.vec_id),
        v AS (SELECT cand.a, cand.b,
          round(${cosine("ea.embedding", "eb.embedding", dims)}, 4) AS cos_sim
          FROM cand JOIN embeddings ea ON cand.a = ea.vec_id
                    JOIN embeddings eb ON cand.b = eb.vec_id),
        r AS (SELECT a, b, cos_sim, row_number() OVER (PARTITION BY a
          ORDER BY cos_sim DESC, b) AS rk FROM v)
        SELECT a, b, cos_sim, rk FROM r WHERE rk <= $k"""
  }

  /** Mirrors Dedup.embeddingNearDupPairs: banded SRP candidates (union of
    * per-band bucket collisions) + exact-cosine verify.
    */
  def embeddingNearDupSql(bands: Int, planesPerBand: Int, dims: Int,
                          threshold: Double): String = {
    val keys = (0 until bands).map { b =>
      s"(${b.toLong * (1L << planesPerBand)} + ${
        srpBucketFrom("embedding", b * planesPerBand, planesPerBand, dims)})"
    }.mkString(",\n          ")
    s"""WITH e AS (SELECT vec_id, unnest([$keys]) AS bk FROM embeddings),
        cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM e x JOIN e y ON x.bk = y.bk AND x.vec_id < y.vec_id),
        v AS (SELECT cand.a, cand.b,
          round(${cosine("ea.embedding", "eb.embedding", dims)}, 4) AS cos_sim
          FROM cand JOIN embeddings ea ON cand.a = ea.vec_id
                    JOIN embeddings eb ON cand.b = eb.vec_id)
        SELECT a, b, cos_sim FROM v WHERE cos_sim >= $threshold"""
  }

  /** Mirrors CorpusOps.snapshotDiffFixture/snapshotDiff: v1 / v2 carved
    * from `documents` by the same residue predicates, content compared by
    * md5 fingerprint through a full outer join.
    */
  def snapshotDiffSql: String =
    s"""WITH v1 AS (SELECT doc_id, md5(text) AS fp1 FROM documents
          WHERE doc_id % 11 <> 3),
        v2 AS (SELECT doc_id,
            md5(CASE WHEN doc_id % 17 = 2 THEN text || ' rev2'
                ELSE text END) AS fp2
          FROM documents WHERE doc_id % 13 <> 5),
        j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
            CASE WHEN fp1 IS NULL THEN 'added'
                 WHEN fp2 IS NULL THEN 'removed'
                 WHEN fp1 <> fp2 THEN 'changed'
                 ELSE 'unchanged' END AS status
          FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        SELECT status, count(*) AS n_docs, min(doc_id) AS min_doc_id,
          max(doc_id) AS max_doc_id
        FROM j GROUP BY status"""

  /** Mirrors CorpusOps.filterFunnel: every ratio rule is compared
    * cross-multiplied in BIGINTs (never a float), the token-length sum is
    * the length of the token concatenation (identical to the Spark fold
    * because tokens are never empty).
    */
  def filterFunnelSql: String =
    s"""WITH t AS (SELECT doc_id, text, ${toks(norm("text"))} AS tk
          FROM documents),
        sig AS (SELECT
          CAST(len(tk) AS BIGINT) AS n_tok,
          CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
          CAST(len(array_to_string(tk, '')) AS BIGINT) AS sum_len,
          CAST(len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
            AS BIGINT) AS n_alnum,
          CAST(len(text) AS BIGINT) AS n_chars FROM t),
        st AS (SELECT CASE
            WHEN n_tok < 25 THEN '1_too_short'
            WHEN n_tok > 90 THEN '2_too_long'
            WHEN sum_len < 2 * n_tok OR sum_len > 5 * n_tok
              THEN '3_mean_word_len'
            WHEN 5 * n_alnum < 4 * n_chars THEN '4_low_alpha'
            WHEN 2 * n_distinct < n_tok THEN '5_repetitive'
            ELSE '6_pass' END AS stage FROM sig),
        b AS (SELECT stage, count(*) AS n_docs FROM st GROUP BY stage),
        tot AS (SELECT count(*) AS n_total FROM documents)
        SELECT stage, n_docs,
          round(n_docs::DOUBLE / n_total::DOUBLE, 4) AS frac
        FROM b CROSS JOIN tot"""

  /** Mirrors CorpusOps.weightedSample: Efraimidis–Spirakis key in integer
    * micro-nano-nats — same 60-bit md5 rank, same quantized-ln terms,
    * same double division + floor (both operands exact in doubles, so the
    * quotient rounds identically in both engines).
    */
  def weightedSampleSql(k: Int, salt: String = "wsample"): String = {
    val q60 = math.floor(60.0 * math.log(2.0) * 1e6 + 0.5).toLong
    val qlnR1 = s"CAST(floor(ln((${base60(s"'$salt:' || doc_id")} + 1)::DOUBLE)" +
      s" * 1e6 + 0.5) AS BIGINT)"
    s"""WITH s AS (SELECT doc_id, source, n_chars,
          CAST(floor((($q60 - $qlnR1) * 1000)::DOUBLE / n_chars::DOUBLE)
            AS BIGINT) AS es_key
          FROM documents)
        SELECT doc_id, source, n_chars, es_key FROM s
        ORDER BY es_key, doc_id LIMIT $k"""
  }

  /** Mirrors CorpusOps.incrementalCuration: same v1/v2 carve, same
    * funnel rules (pass = none of the cross-multiplied BIGINT rules
    * fire), diff via v2-side left join, dedup vs v1's whole fingerprint
    * set, keep-min within the batch.
    */
  def incrementalCurationSql: String =
    s"""WITH v1 AS (SELECT doc_id, md5(text) AS fp1 FROM documents
          WHERE doc_id % 11 <> 3),
        v2 AS (SELECT doc_id,
            CASE WHEN doc_id % 17 = 2 THEN text || ' rev2' ELSE text END
              AS text
          FROM documents WHERE doc_id % 13 <> 5),
        f2t AS (SELECT doc_id, text, ${toks(norm("text"))} AS tk FROM v2),
        f2 AS (SELECT doc_id, md5(text) AS fp,
            NOT (CAST(len(tk) AS BIGINT) < 25
              OR CAST(len(tk) AS BIGINT) > 90
              OR CAST(len(array_to_string(tk, '')) AS BIGINT)
                < 2 * CAST(len(tk) AS BIGINT)
              OR CAST(len(array_to_string(tk, '')) AS BIGINT)
                > 5 * CAST(len(tk) AS BIGINT)
              OR 5 * CAST(len(regexp_replace(lower(text), '[^a-z0-9]', '',
                  'g')) AS BIGINT) < 4 * CAST(len(text) AS BIGINT)
              OR 2 * CAST(len(list_distinct(tk)) AS BIGINT)
                < CAST(len(tk) AS BIGINT))
              AS pass FROM f2t),
        fresh AS (SELECT f2.doc_id,
            CASE WHEN v1.fp1 IS NULL THEN 'added' ELSE 'changed' END
              AS status, f2.fp
          FROM f2 LEFT JOIN v1 ON f2.doc_id = v1.doc_id
          WHERE (v1.fp1 IS NULL OR v1.fp1 <> f2.fp) AND f2.pass)
        SELECT min(doc_id) AS doc_id, min(status) AS status, fp
        FROM fresh WHERE fp NOT IN (SELECT fp1 FROM v1) GROUP BY fp"""

  /** Mirrors TextAnalysis.novelty: same distinct word n-gram shingles,
    * same base60 gram hashes, integer df==1 test, one rounded ratio.
    */
  def noveltySql(n: Int): String =
    s"""${wordShCte(n)},
        occ AS (SELECT doc_id, ${base60("s1")} AS g
          FROM (SELECT doc_id, unnest(shingles) AS s1 FROM sh)),
        df AS (SELECT g, count(*) AS df FROM occ GROUP BY g),
        d AS (SELECT doc_id, count(*) AS n_grams,
            CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS novel_grams
          FROM occ JOIN df USING (g) GROUP BY doc_id)
        SELECT doc_id, n_grams, novel_grams,
          round(novel_grams::DOUBLE / n_grams::DOUBLE, 4) AS novelty
        FROM d"""

  /** Mirrors TextAnalysis.bpeMerges: the m training rounds unrolled as
    * chained CTEs — same wrapped-symbol rendering, same weighted pair
    * counts, same (count DESC, pair ASC) tie-break, same left-to-right
    * non-overlapping `replace` application (both engines scan substrings
    * identically), so the learned merge table matches row-for-row.
    */
  def bpeMergesSql(m: Int): String = {
    val sb = new StringBuilder(toksCte())
    sb.append(s""",
        w0 AS MATERIALIZED (SELECT regexp_replace(tok, '(.)', '<\\1>', 'g') AS w,
            count(*) AS cnt
          FROM (SELECT unnest(tk) AS tok FROM t) GROUP BY tok)""")
    for (k <- 1 to m) {
      val prev = s"w${k - 1}"
      sb.append(s""",
        p$k AS (SELECT pr, CAST(sum(cnt) AS BIGINT) AS c FROM (
            SELECT unnest(list_transform(generate_series(1, len(s) - 1),
              i -> '<' || s[i] || '><' || s[i + 1] || '>')) AS pr, cnt
            FROM (SELECT string_split(trim(w, '<>'), '><') AS s, cnt
                  FROM $prev)) GROUP BY pr),
        b$k AS MATERIALIZED (SELECT CAST($k AS INTEGER) AS rank, pr, c FROM p$k
          ORDER BY c DESC, pr LIMIT 1)""")
      if (k < m) sb.append(s""",
        w$k AS MATERIALIZED (SELECT replace(w, (SELECT pr FROM b$k),
            (SELECT replace(pr, '><', '') FROM b$k)) AS w, cnt
          FROM $prev)""")
    }
    sb.append("\n        ")
    sb.append((1 to m).map(k => s"SELECT rank, pr AS pair, c AS n FROM b$k")
      .mkString("\n        UNION ALL "))
    sb.toString
  }

  /** Mirrors TextAnalysis.bpeSegmentCounts: recompute the same m merges
    * (shared CTE chain with [[bpeMergesSql]]), gather them into one row,
    * and apply them in rank order inside the per-token lambda — the
    * chained `replace` fold is literally the Spark projection.
    */
  def bpeSegmentCountsSql(m: Int): String = {
    val merges = bpeMergesSql(m)
    // reuse everything up to the final UNION ALL select
    val ctes = merges.substring(0, merges.lastIndexOf("\n        SELECT rank"))
    val mrow = (1 to m).map(k => s"(SELECT pr FROM b$k) AS mp$k")
      .mkString(",\n          ")
    val chain = (1 to m).foldLeft(
      "regexp_replace(tt, '(.)', '<\\1>', 'g')")((acc, k) =>
        s"replace($acc, mp$k, replace(mp$k, '><', ''))")
    s"""$ctes,
        mrow AS MATERIALIZED (SELECT $mrow)
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
          CAST(coalesce(list_aggregate(list_transform(tk,
            tt -> len(string_split(trim($chain, '<>'), '><'))),
            'sum'), 0) AS BIGINT) AS n_subwords
        FROM t CROSS JOIN mrow"""
  }

  /** Mirrors Relational.cdcChangeset + cdcMergeApply: same derived
    * changeset, latest-per-key squash via arg_max, full-outer apply with
    * D filtered, decimal-exact per-status totals.
    */
  def cdcMergeSql: String = cdcMergeSqlWhere("")

  /** Mirrors Relational.cdcMergeApplyBucketed: the SAME unpruned merge
    * over the bucket-sparse changeset slice (change keys in the first
    * `shards` of `buckets` hash buckets) — the oracle deliberately does
    * not model the bucketed layout or the summary partials, so a green
    * row proves the pruned + summary-merged plan value-exact against a
    * whole-snapshot recompute.
    */
  def cdcMergeSparseSql(buckets: Int, shards: Int): String =
    cdcMergeSqlWhere(s"WHERE key % $buckets < $shards")

  private def cdcMergeSqlWhere(sparse: String): String =
    s"""WITH ch0 AS (
          SELECT o_orderkey AS key, 1 AS seq, 'U:X' AS payload FROM orders
            WHERE o_orderkey % 5 = 0
          UNION ALL SELECT o_orderkey, 2, 'U:Y' FROM orders
            WHERE o_orderkey % 10 = 0
          UNION ALL SELECT o_orderkey, 3, 'D:' FROM orders
            WHERE o_orderkey % 7 = 3
          UNION ALL SELECT o_orderkey + 100000000, 1, 'I:N' FROM orders
            WHERE o_orderkey % 97 = 0),
        ch AS (SELECT * FROM ch0 $sparse),
        latest AS (SELECT key, arg_max(payload, seq) AS payload
          FROM ch GROUP BY key),
        m AS (SELECT
            CASE WHEN substr(l.payload, 1, 1) IN ('U', 'I')
              THEN substr(l.payload, 3, 1) ELSE s.o_orderstatus END AS status,
            CASE WHEN substr(l.payload, 1, 1) = 'I'
              THEN (coalesce(l.key, s.o_orderkey) % 997)::DOUBLE
              ELSE s.o_totalprice END AS price
          FROM orders s FULL OUTER JOIN latest l ON s.o_orderkey = l.key
          WHERE l.payload IS NULL OR substr(l.payload, 1, 1) <> 'D')
        SELECT status, count(*) AS n_orders,
          CAST(sum(CAST(price AS DECIMAL(12,4))) AS DOUBLE) AS total_price
        FROM m GROUP BY status"""
}
