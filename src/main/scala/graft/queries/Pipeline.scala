package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Association, Curation, Dedup, Graph, MultiModal,
  Retrieval, Sampling, Similarity, Sketches, TextAnalysis}
import QueryUtil._

/** Large-scale training-data pipeline operators (driver-mandated
  * extension surface, beyond reference parity): deduplication
  * (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  * near-dup), similarity search (brute-force + LSH ANN), text
  * analysis (language ID / quality / tokens / fingerprint), and
  * multimodal binary-column plumbing. SQL-expressible ones carry a
  * DuckDB oracle; hash-based ones (xxhash64 has no DuckDB twin) get
  * rows-only checks plus ScalaTest golden specs.
  */
object Pipeline {

  private def duckShinglesFrom(table: String) =
    s"""SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(tk) - 1, 1)),
      |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |FROM (SELECT doc_id, str_split_regex(trim(lower(text)), '\\s+') AS tk
      |      FROM $table)""".stripMargin

  private val duckShingles = duckShinglesFrom("documents")

  private val duckCos =
    (a: String, b: String) =>
      s"list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b)))"

  /** CTE chain replaying Retrieval.bm25TopK (k1=1.2, b=0.75, query =
    * first 5 tokens of every doc_id % 100 = 0 document) up to the
    * full ranked list `bm(query_id, doc_id, score_micro, rnk)`;
    * consumers slice by rnk. Constants appear as the same textual
    * IEEE adds the Spark side folds (`1.2 + 1.0`), and every double
    * quantizes to a long before any aggregation — the p40
    * discipline. Shared by the p59 and p60 oracles. */
  private val duckBm25: String =
    """tok AS (SELECT doc_id,
      |    str_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
      |dt AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(tk) AS t FROM tok)
      |  WHERE length(t) >= 1 GROUP BY 1, 2),
      |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |  FROM dt GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS len_total FROM dlen),
      |qt AS (SELECT DISTINCT query_id, t FROM (
      |    SELECT doc_id AS query_id, unnest(tk[1:5]) AS t
      |    FROM tok WHERE doc_id % 100 = 0)
      |  WHERE length(t) >= 1),
      |qterms AS (SELECT DISTINCT t FROM qt),
      |cand AS (SELECT dt.doc_id, dt.t, dt.tf FROM dt JOIN qterms USING (t)),
      |idf AS (SELECT t, CAST(round(ln(1.0 + (n_docs - dfreq + 0.5) /
      |      (dfreq + 0.5)) * 1000000) AS BIGINT) AS idf_micro
      |  FROM (SELECT t, CAST(count(*) AS BIGINT) AS dfreq
      |        FROM cand GROUP BY 1) CROSS JOIN st),
      |tsc AS (SELECT qt.query_id, cand.doc_id,
      |    CAST(round(idf_micro * ((tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
      |        (CAST(len_total AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
      |      AS BIGINT) AS term_micro
      |  FROM cand JOIN dlen USING (doc_id) CROSS JOIN st
      |    JOIN idf USING (t) JOIN qt USING (t)),
      |bsc AS (SELECT query_id, doc_id, CAST(sum(term_micro) AS BIGINT)
      |    AS score_micro FROM tsc GROUP BY 1, 2),
      |bm AS (SELECT query_id, doc_id, score_micro,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk
      |  FROM bsc)""".stripMargin

  /** Extends [[duckBm25]] with the dense ranking and the RRF fusion,
    * ending at `rr(query_id, doc_id, rrf_micro, rank_lex, rank_dense,
    * rnk)` — the full hybrid ranked list. The dense side is the
    * production ANN path, PQ shortlist + exact rerank
    * (Similarity.pqRerankTopK, the p37 semantics: 64-entry md5-order
    * codebooks, ADC top-100 shortlist, exact cosine on the shortlist
    * only) — NOT the O(queries×corpus) brute-force baseline, which
    * survives only as the recall oracle in RetrievalSpec. Shared by
    * the p60 and p61 oracles. */
  private val duckHybrid: String =
    s"""$duckBm25,
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
      |nrm AS (SELECT vec_id, list_transform(raw, x ->
      |    x / sqrt(list_dot_product(raw, raw))) AS v FROM e),
      |smp AS (SELECT vec_id, v FROM nrm
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
      |cbl AS (SELECT list(v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
      |  AS cb FROM smp),
      |dists AS (SELECT nrm.vec_id, t.mi,
      |    list_transform(range(1, 65), j ->
      |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(1, 9), dd ->
      |          (nrm.v[t.mi*8+dd] - cbl.cb[j][t.mi*8+dd]) *
      |          (nrm.v[t.mi*8+dd] - cbl.cb[j][t.mi*8+dd]))),
      |        (a, b) -> a + b)) AS dl
      |  FROM nrm, range(0, 8) t(mi), cbl),
      |codel AS (SELECT vec_id,
      |    list(list_position(dl, list_min(dl)) ORDER BY mi) AS code
      |  FROM dists GROUP BY vec_id),
      |qlut AS (SELECT vec_id AS q_id, list(dl ORDER BY mi) AS lut
      |  FROM dists WHERE vec_id % 100 = 0 GROUP BY vec_id),
      |pqsc AS (SELECT q.q_id, c.vec_id AS neighbor_id,
      |    -list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(1, 9), mi -> q.lut[mi][c.code[mi]])),
      |      (a, b) -> a + b) AS sc
      |  FROM qlut q, codel c WHERE c.vec_id <> q.q_id),
      |pqr AS (SELECT q_id, neighbor_id, row_number() OVER (
      |    PARTITION BY q_id ORDER BY sc DESC, neighbor_id) AS srnk
      |  FROM pqsc),
      |short AS (SELECT q_id, neighbor_id FROM pqr WHERE srnk <= 100),
      |rer AS (SELECT s2.q_id, s2.neighbor_id,
      |    ${duckCos("qe.raw", "ne.raw")} AS sc2
      |  FROM short s2 JOIN e qe ON qe.vec_id = s2.q_id
      |  JOIN e ne ON ne.vec_id = s2.neighbor_id),
      |dr AS (SELECT q_id AS query_id, neighbor_id AS doc_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY sc2 DESC, neighbor_id) AS BIGINT) AS rank_dense
      |  FROM rer),
      |dense AS (SELECT * FROM dr WHERE rank_dense <= 20),
      |lex AS (SELECT query_id, doc_id, rnk AS rank_lex
      |  FROM bm WHERE rnk <= 20),
      |fused AS (SELECT
      |    coalesce(lex.query_id, dense.query_id) AS query_id,
      |    coalesce(lex.doc_id, dense.doc_id) AS doc_id,
      |    lex.rank_lex, dense.rank_dense,
      |    CAST(round((coalesce(1.0 / (60.0 + rank_lex), 0.0) +
      |      coalesce(1.0 / (60.0 + rank_dense), 0.0)) * 1000000)
      |      AS BIGINT) AS rrf_micro
      |  FROM lex FULL OUTER JOIN dense
      |    ON lex.query_id = dense.query_id
      |    AND lex.doc_id = dense.doc_id),
      |rr AS (SELECT query_id, doc_id, rrf_micro, rank_lex,
      |    rank_dense, row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_micro DESC, doc_id) AS rnk FROM fused)""".stripMargin

  /** CTE chain `words0 … words8` (+ per-round `syms/pairs/best`)
    * replaying TextAnalysis.bpeMerges(8) in DuckDB: SOH-delimited
    * symbol strings, adjacent-pair counts, deterministic argmax,
    * non-overlapping literal replace. Carries the original word `w`
    * through every round so apply-side oracles (p42) can map
    * word → token count; p39 reads only the `best*` rows. Shared by
    * the p39 and p42 oracles. */
  private val duckBpe8: String = {
    val rounds = (0 until 8).map { r =>
      s"""syms$r AS MATERIALIZED (SELECT freq,
         |    str_split(trim(s, chr(1)), chr(1)||chr(1)) AS sy
         |  FROM words$r),
         |pairs$r AS MATERIALIZED (SELECT sy[i] AS a, sy[i+1] AS b,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM syms$r, unnest(range(1, len(sy))) t(i) GROUP BY 1, 2),
         |best$r AS MATERIALIZED (SELECT CAST(${r + 1} AS BIGINT) AS rnk, a, b, cnt
         |  FROM pairs$r ORDER BY cnt DESC, a, b LIMIT 1),
         |words${r + 1} AS MATERIALIZED (SELECT w, freq, replace(s,
         |    chr(1)||(SELECT a FROM best$r)||chr(1)||chr(1)||
         |      (SELECT b FROM best$r)||chr(1),
         |    chr(1)||(SELECT a FROM best$r)||
         |      (SELECT b FROM best$r)||chr(1)) AS s
         |  FROM words$r)""".stripMargin
    }.mkString(",\n")
    s"""words0 AS MATERIALIZED (SELECT w, count(*) AS freq,
       |    chr(1) || array_to_string(list_transform(range(1, length(w)+1),
       |      i -> substr(w, CAST(i AS INT), 1)), chr(1)||chr(1)) || chr(1) AS s
       |  FROM (SELECT unnest(str_split_regex(trim(lower(text)), '\\s+')) AS w
       |        FROM documents)
       |  WHERE length(w) >= 1 GROUP BY w),
       |$rounds""".stripMargin
  }

  /** CTE chain `e, c0, a1, asg1, dims1, c1, a2, asg2` replaying
    * Similarity.kmeansAssign (k=8, iters=2) exactly in DuckDB:
    * md5-order init, argmax cosine assignment with cell tie-break,
    * integer-micro centroid means. Shared by the p30 and p41
    * oracles. */
  private val duckKmeansAsg: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c0 AS (SELECT vec_id AS cell, v AS cv FROM e
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      |a1 AS (SELECT e.vec_id, e.v, c0.cell, row_number() OVER (
      |    PARTITION BY e.vec_id
      |    ORDER BY ${duckCos("e.v", "c0.cv")} DESC, c0.cell) AS rn
      |  FROM e CROSS JOIN c0),
      |asg1 AS (SELECT vec_id, v, cell FROM a1 WHERE rn = 1),
      |dims1 AS (SELECT cell, d,
      |    sum(CAST(round(v[d]*1000000) AS BIGINT)) AS sx, count(*) AS n
      |  FROM asg1, range(1, 65) t(d) GROUP BY cell, d),
      |c1 AS (SELECT cell, list(CAST(sx AS DOUBLE)/n/1000000.0 ORDER BY d)
      |    AS cv FROM dims1 GROUP BY cell),
      |a2 AS (SELECT e.vec_id, c1.cell, row_number() OVER (
      |    PARTITION BY e.vec_id
      |    ORDER BY ${duckCos("e.v", "c1.cv")} DESC, c1.cell) AS rn
      |  FROM e CROSS JOIN c1),
      |asg2 AS (SELECT vec_id, cell FROM a2 WHERE rn = 1)""".stripMargin

  /** CTE chain `tok, h, bits, fp` recomputing Dedup.simhashPortable's
    * 60-bit fingerprints bit-for-bit in DuckDB (two polynomial hash
    * families, per-token sign sums). Shared by the p04 and p17
    * oracles. */
  private val duckSimhashFp: String = {
    val polyHash = (mult: Int, mod: Long, alias: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(1, length(t)+1),
         |    i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))),
         |  (a, c) -> (a*$mult + c) % $mod) AS $alias""".stripMargin
    val bitSums = (0 until 60).map { j =>
      val (h, b) = if (j < 30) ("h1", j) else ("h2", j - 30)
      s"sum(CASE WHEN (($h // ${1L << b}) % 2) = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val fpExpr = (0 until 60).map(j =>
      s"(CASE WHEN b$j >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""tok AS (SELECT doc_id, unnest(list_distinct(
       |    str_split_regex(trim(lower(text)), '\\s+'))) AS t FROM documents),
       |h AS (SELECT doc_id, ${polyHash(31, 1000000007L, "h1")},
       |  ${polyHash(37, 998244353L, "h2")} FROM tok),
       |bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fpExpr AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  /** CTE chain `sh, hs, sig, bands, cand` replaying
    * Dedup.minhashCandidatesPortable exactly in DuckDB: polynomial
    * shingle hashes, 32 universal-hash MinHash families, 8 bands of 4,
    * bucket self-join. Shared by the p03 and p17 oracles. */
  /** CTE chain `sh, hs, sig, bands` — shingles, signatures and LSH
    * band rows of the portable MinHash, without the pair join (the
    * consumer picks self-join or new-vs-index). */
  private def duckMinhashBandsFrom(table: String): String = {
    val P = 1000000007L
    def a(i: Int) = (2654435761L * (i + 1)) % P
    def b(i: Int) = (40503L * (i + 7) + 12345L) % P
    val sigCols = (0 until 32).map(i =>
      s"list_min(list_transform(hs, h -> (h*${a(i)} + ${b(i)}) % $P)) AS m$i")
      .mkString(", ")
    val bandArms = (0 until 8).map(j =>
      s"SELECT doc_id, $j AS band_idx, " +
        (0 until 4).map(k => s"CAST(m${j * 4 + k} AS VARCHAR)")
          .mkString(" || ',' || ") + " AS band_key FROM sig")
      .mkString(" UNION ALL ")
    s"""sh AS (${duckShinglesFrom(table)}),
      |hs AS (SELECT doc_id, list_transform(sh, s -> list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(s)+1),
      |        i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT))),
      |    (a, c) -> (a*31 + c) % $P)) AS hs FROM sh),
      |sig AS (SELECT doc_id, $sigCols FROM hs),
      |bands AS ($bandArms)""".stripMargin
  }

  private val duckMinhashBands: String = duckMinhashBandsFrom("documents")

  private def duckMinhashCandFrom(table: String): String =
    s"""${duckMinhashBandsFrom(table)},
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      |   AND a.doc_id < b.doc_id)""".stripMargin

  private val duckMinhashCand: String = duckMinhashCandFrom("documents")

  /** CTE chain replaying Graph.labelPropagation (3 synchronous
    * rounds, (count desc, label asc) argmax) over the lineitem
    * co-purchase graph: `pe, e0` (distinct undirected edges), `nb`
    * (symmetrized adjacency), `l0..l3` (labels per round). Shared by
    * the p84 and p116 oracles. */
  private val duckCoPurchaseLp3: String =
    """pe AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM pe a JOIN pe b ON a.o = b.o AND a.p < b.p),
      |nb AS MATERIALIZED (SELECT u AS n, v AS m FROM e0
      |  UNION ALL SELECT v, u FROM e0),
      |l0 AS (SELECT DISTINCT n, n AS l FROM nb),
      |c1 AS (SELECT nb.n, l0.l, count(*) AS c FROM nb
      |  JOIN l0 ON l0.n = nb.m GROUP BY 1, 2),
      |l1 AS MATERIALIZED (SELECT n, l FROM (SELECT n, l, row_number() OVER (
      |    PARTITION BY n ORDER BY c DESC, l) AS rn FROM c1) WHERE rn = 1),
      |c2 AS (SELECT nb.n, l1.l, count(*) AS c FROM nb
      |  JOIN l1 ON l1.n = nb.m GROUP BY 1, 2),
      |l2 AS MATERIALIZED (SELECT n, l FROM (SELECT n, l, row_number() OVER (
      |    PARTITION BY n ORDER BY c DESC, l) AS rn FROM c2) WHERE rn = 1),
      |c3 AS (SELECT nb.n, l2.l, count(*) AS c FROM nb
      |  JOIN l2 ON l2.n = nb.m GROUP BY 1, 2),
      |l3 AS (SELECT n, l FROM (SELECT n, l, row_number() OVER (
      |    PARTITION BY n ORDER BY c DESC, l) AS rn FROM c3) WHERE rn = 1)""".stripMargin

  /** CTE `jac` — exact shingle Jaccard for every candidate pair, the
    * DuckDB twin of Dedup.jaccardForPairs over `cand`. Shared by the
    * p17/p27/p28 oracles. */
  private val duckCandJaccard: String =
    """jac AS (SELECT c.a_id, c.b_id,
      |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jac
      |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
      |  JOIN sh sb ON sb.doc_id = c.b_id)""".stripMargin

  /** CTE chain replaying Curation.perceptronQuality (16 hashed
    * buckets + bias, 3 batch rounds) exactly in DuckDB: dense integer
    * feature vectors, per-round margin scan, misclassified-set
    * gradient map, integer weight update. Training is all-integer, so
    * the unrolled replay is exact — the oracle verifies the TRAINING
    * loop, not just inference. */
  private val duckPerceptron: String = {
    val opoly60 = QueryUtil.oPoly60("t")
    val dot = (wRel: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, 18), i -> $wRel.w[i] * f.x[i])),
         |      (a, b) -> a + b)""".stripMargin
    val rounds = (0 until 3).map { r =>
      s"""s$r AS (SELECT f.doc_id, f.y, f.x, ${dot("w")} AS dot
         |  FROM feat f CROSS JOIN w$r w),
         |g$r AS (SELECT i, CAST(sum(y * x[i]) AS BIGINT) AS s
         |  FROM s$r, range(1, 18) t(i) WHERE y * dot <= 0 GROUP BY i),
         |gm$r AS (SELECT map(
         |    coalesce(list(i ORDER BY i), CAST([] AS BIGINT[])),
         |    coalesce(list(s ORDER BY i), CAST([] AS BIGINT[]))) AS gm
         |  FROM g$r),
         |w${r + 1} AS (SELECT list_transform(range(1, 18),
         |    i -> w.w[i] + coalesce(map_extract(g.gm, i)[1], 0)) AS w
         |  FROM w$r w CROSS JOIN gm$r g)""".stripMargin
    }.mkString(",\n")
    s"""tk AS (SELECT doc_id, unnest(
       |    str_split_regex(trim(lower(text)), '\\s+')) AS t
       |  FROM documents),
       |bc AS (SELECT doc_id, $opoly60 % 16 AS b, count(*) AS c
       |  FROM tk GROUP BY 1, 2),
       |fm AS (SELECT doc_id, map(list(b ORDER BY b), list(c ORDER BY b))
       |    AS m FROM bc GROUP BY doc_id),
       |feat AS (SELECT d.doc_id,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE -1 END AS y,
       |    list_transform(range(0, 16),
       |      bb -> CAST(coalesce(map_extract(fm.m, bb)[1], 0) AS BIGINT)) ||
       |      [CAST(1 AS BIGINT)] AS x
       |  FROM documents d JOIN fm ON fm.doc_id = d.doc_id),
       |w0 AS (SELECT list_transform(range(1, 18), i -> CAST(0 AS BIGINT))
       |    AS w),
       |$rounds,
       |fin AS (SELECT f.doc_id, f.y, f.x, ${dot("w")} AS dot
       |  FROM feat f CROSS JOIN w3 w)""".stripMargin
  }

  val defs: Map[String, Q] = Map(

    // ---- perceptual image near-dup over REAL PNG payloads: the
    // corpus tables carry no media column, so the battery derives a
    // deterministic synthetic image corpus from the document ids
    // (each id k → base 16×16 PNG as media_id 2k + a brightness-
    // shifted re-encode as 2k+1 = a planted near-dup pair), then runs
    // the banded-LSH + exact-hamming miner END TO END and projects
    // the result onto the planted pairs. That projection is engine-
    // INDEPENDENT: the +8 shift never clips, so aHash is invariant by
    // construction — every planted pair must come back at hamming 0,
    // and DuckDB states the expected rows as a plain select over
    // documents. A missed encode/decode/fingerprint/band anywhere
    // breaks the hash match (recall oracle, upgraded from the old
    // rows-only check); cross-pair emission stays spec-pinned.
    "p56_image_neardup" -> Q(
      (s, dir) => MultiModal.aHashNearDup(
          MultiModal.syntheticImageCorpus(
            tbl(s, dir, "documents").select(col("doc_id")), "doc_id"),
          maxDist = 6)
        .filter(col("a_id") % 2 === 0 && col("b_id") === col("a_id") + 1)
        .orderBy(col("a_id"), col("b_id")),
      Some("""SELECT 2 * doc_id AS a_id, 2 * doc_id + 1 AS b_id,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents ORDER BY a_id, b_id""".stripMargin)),

    // ---- acoustic near-dup over REAL RIFF/WAV PCM payloads — the
    // audio twin of p56 (base recording as 2k + the same recording
    // at 2× volume as 2k+1). |2s| = 2|s| preserves window-energy
    // ORDER exactly, so the energy-delta fingerprint is invariant →
    // the planted-pair projection is again a DuckDB-stateable recall
    // oracle at hamming 0.
    "p57_audio_neardup" -> Q(
      (s, dir) => MultiModal.audioNearDup(
          MultiModal.syntheticAudioCorpus(
            tbl(s, dir, "documents").select(col("doc_id")), "doc_id"),
          maxDist = 6)
        .filter(col("a_id") % 2 === 0 && col("b_id") === col("a_id") + 1)
        .orderBy(col("a_id"), col("b_id")),
      Some("""SELECT 2 * doc_id AS a_id, 2 * doc_id + 1 AS b_id,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents ORDER BY a_id, b_id""".stripMargin)),

    // ---- URL canonicalization + host-level counts: the corpus has
    // no URL column, so deterministic messy URLs are synthesized
    // in-query from (source, doc_id, lang) — mixed-case scheme/host,
    // www. prefix, default :443 port, lowercase %2f escape, trailing
    // path slash, tracking params, unsorted params — then
    // canonicalized (Curation.canonicalizeUrls) and joined with
    // broadcast per-host doc counts (the per-host quota input).
    // DuckDB replays every string op exactly.
    "p58_url_canon" -> Q(
      (s, dir) => {
        val urls = tbl(s, dir, "documents")
          .select(col("doc_id"), concat(
            lit("HTTPS://WWW."), col("source"),
            lit(".Example.COM:443/Docs%2f"),
            col("doc_id").cast("string"), lit("/?utm_source=feed&ref="),
            col("lang"), lit("&b=2&a=1")).as("url"))
        val canon = Curation.canonicalizeUrls(urls, "doc_id", "url")
        val hostDocs = canon.groupBy(col("host"))
          .agg(count(lit(1)).as("host_docs"))
        canon.join(broadcast(hostDocs), Seq("host"))
          .select(col("doc_id"), col("canon_url"), col("host"),
            col("host_docs"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id, 'HTTPS://WWW.' || source ||
        |    '.Example.COM:443/Docs%2f' || CAST(doc_id AS VARCHAR) ||
        |    '/?utm_source=feed&ref=' || lang || '&b=2&a=1' AS url
        |  FROM documents),
        |c AS (SELECT doc_id, lower(split_part(url, '://', 1)) AS scheme,
        |    split_part(split_part(url, '://', 2), '#', 1) AS hp FROM u),
        |d AS (SELECT doc_id, scheme, hp,
        |    lower(split_part(hp, '/', 1)) AS hostport FROM c),
        |d2 AS (SELECT doc_id, scheme, hp, hostport,
        |    CASE WHEN scheme = 'http' AND ends_with(hostport, ':80')
        |      THEN substr(hostport, 1, length(hostport) - 3)
        |    WHEN scheme = 'https' AND ends_with(hostport, ':443')
        |      THEN substr(hostport, 1, length(hostport) - 4)
        |    ELSE hostport END AS hostnop FROM d),
        |e0 AS (SELECT doc_id, scheme,
        |    regexp_replace(hostnop, '^www\.', '') AS host,
        |    substr(hp, length(hostport) + 1) AS pathq0 FROM d2),
        |e AS (SELECT doc_id, scheme, host,
        |    CASE WHEN strpos(pathq0, '%') = 0 THEN pathq0 ELSE
        |      str_split(pathq0, '%')[1] || array_to_string(list_transform(
        |        str_split(pathq0, '%')[2:], p -> '%' ||
        |          CASE WHEN regexp_matches(p, '^[0-9a-fA-F]{2}')
        |            THEN upper(substr(p, 1, 2)) || substr(p, 3)
        |            ELSE p END), '')
        |    END AS pathq FROM e0),
        |f AS (SELECT doc_id, scheme, host,
        |    regexp_replace(split_part(pathq, '?', 1), '/+$', '') AS path,
        |    CASE WHEN strpos(pathq, '?') > 0
        |      THEN substr(pathq, strpos(pathq, '?') + 1)
        |      ELSE '' END AS q FROM e),
        |g AS (SELECT doc_id, scheme, host, path,
        |    list_sort(list_filter(str_split(q, '&'), p -> p <> ''
        |      AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'ref=')
        |      AND NOT starts_with(p, 'fbclid=')
        |      AND NOT starts_with(p, 'gclid='))) AS params
        |  FROM f),
        |h AS (SELECT doc_id, scheme || '://' || host || path ||
        |    CASE WHEN len(params) > 0 THEN '?' ||
        |      array_to_string(params, '&') ELSE '' END AS canon_url,
        |    host FROM g)
        |SELECT doc_id, canon_url, host, hd.host_docs AS host_docs
        |FROM h JOIN (SELECT host, count(*) AS host_docs FROM h
        |  GROUP BY host) hd USING (host)
        |ORDER BY doc_id""".stripMargin)),

    // ---- distribution-based length-outlier gate (winsorization):
    // exact p05/p95 corpus bounds via one broadcast aggregate, narrow
    // flag+clip per row. DuckDB's quantile_cont interpolates with the
    // same (n-1)·q rule over the exact integer sort key, so the
    // bounds — and the clipped doubles — match bit-for-bit (q47).
    "p55_outlier_gate" -> Q(
      (s, dir) => Curation.outlierGate(tbl(s, dir, "documents"),
          "doc_id", "n_chars", loQ = 0.05, hiQ = 0.95)
        .orderBy(col("doc_id")),
      Some("""WITH b AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
        |    quantile_cont(n_chars, 0.95) AS hi FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(n_chars < lo OR n_chars > hi AS BIGINT) AS is_outlier,
        |  least(greatest(CAST(n_chars AS DOUBLE), lo), hi) AS clipped
        |FROM documents CROSS JOIN b ORDER BY doc_id""".stripMargin)),

    // ---- entity resolution: blocked fuzzy join. The right side is a
    // deterministically misspelled twin of every supplier name (3rd
    // char dropped); blocking on the 2-char SUFFIX — which survives a
    // middle deletion AND distributes ~100 ways where the shared
    // "Su" prefix would collapse every name into one skewed block —
    // bounds the pair space to Σ|block|², and exact Levenshtein ≤ 2
    // verifies each candidate: the record-linkage
    // blocking-then-verify shape, with the block key doing the same
    // job k does in the LSH miners.
    // blocking key: 4-char name suffix — cardinality GROWS with the
    // supplier keyspace (blockedFuzzyJoin's scale contract), where
    // the original 2-char key froze at ~100 blocks and made Σ|block|²
    // quadratic in corpus size (measured: 460s at the 100× scale-up;
    // the 4-char key is ~100× fewer candidate pairs at identical
    // recall — a suffix survives the char-3 deletion edit regardless
    // of width)
    "p54_fuzzy_join" -> Q(
      (s, dir) => {
        val sup = tbl(s, dir, "supplier")
        Dedup.blockedFuzzyJoin(
            sup.select(col("s_suppkey").as("l_id"),
              col("s_name").as("l_name")),
            sup.select(col("s_suppkey").as("r_id"),
              concat(substring(col("s_name"), 1, 2),
                substring(col("s_name"), 4, 1000000)).as("r_name")),
            "l_id", "l_name", "r_id", "r_name",
            name => substring(name, -4, 4), maxDist = 2)
          .orderBy(col("l_id"), col("r_id"))
      },
      Some("""WITH l AS (SELECT s_suppkey AS l_id, s_name AS l_name,
        |    right(s_name, 4) AS blk FROM supplier),
        |r AS (SELECT s_suppkey AS r_id,
        |    substr(s_name, 1, 2) || substr(s_name, 4) AS r_name
        |  FROM supplier),
        |r2 AS (SELECT r_id, r_name, right(r_name, 4) AS blk FROM r)
        |SELECT l_id, r_id, l_name, r_name,
        |  CAST(levenshtein(l_name, r_name) AS BIGINT) AS dist
        |FROM l JOIN r2 USING (blk)
        |WHERE levenshtein(l_name, r_name) <= 2
        |ORDER BY l_id, r_id""".stripMargin)),

    // ---- Z-order layout audit: Morton-interleave (l_partkey,
    // l_suppkey), cut the z-space into 64 contiguous ranges, report
    // per-range row counts and per-dimension min/max — the proof that
    // a z-sorted export keeps BOTH columns bounded per range (what
    // makes parquet min/max skipping work on either filter). DuckDB
    // replays the 31-term interleave fold bit-for-bit.
    "p53_zorder" -> Q(
      (s, dir) => Curation.zorderBucketStats(tbl(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", buckets = 64)
        .orderBy(col("bucket")),
      Some("""WITH z AS (SELECT l_partkey AS ka, l_suppkey AS kb,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, 31), i ->
        |        (((l_partkey >> i) & 1) << (2*i)) |
        |        (((l_suppkey >> i) & 1) << (2*i + 1)))),
        |      (x, y) -> x | y) AS z
        |  FROM lineitem),
        |m AS (SELECT max(z) AS mz FROM z),
        |t AS (SELECT ka, kb, z // ((mz // 64) + 1) AS bucket
        |  FROM z CROSS JOIN m)
        |SELECT bucket, count(*) AS n,
        |  min(ka) AS min_a, max(ka) AS max_a,
        |  min(kb) AS min_b, max(kb) AS max_b
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ---- model-based quality classifier: distributed batch
    // perceptron over hashed bag-of-words features, 3 synchronous
    // integer rounds — fastText-style filtering reduced to an
    // exactly-reproducible core. The oracle unrolls and replays the
    // full TRAINING loop (all-integer), then the final activations.
    "p52_perceptron" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        Curation.perceptronQuality(docs, "doc_id", "text",
            when(col("lang") === "en", 1L).otherwise(-1L),
            buckets = 16, rounds = 3)
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH $duckPerceptron
          |SELECT doc_id, CAST(y AS BIGINT) AS y, dot AS score,
          |  CAST(CASE WHEN dot > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
          |FROM fin ORDER BY doc_id""".stripMargin
      }),

    // ---- exact dedup: hash-group on content hash.
    "p01_dedup_exact" -> Q(
      (s, dir) => Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("keep_id")),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),

    // ---- word-3-gram Jaccard similarity between consecutive docs.
    "p02_ngram_jaccard" -> Q(
      (s, dir) => Dedup.jaccardAdjacent(tbl(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH sh AS ($duckShingles)
        |SELECT a.doc_id AS doc_id,
        |CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jac
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin)),

    // ---- MinHash + LSH candidate mining, per-doc candidate counts
    // (never empty even on a dup-free corpus). Uses the portable
    // universal-hash MinHash (Dedup.minhashCandidatesPortable) so the
    // DuckDB oracle replays shingle hashes, signatures, banding and
    // the bucket join bit-for-bit; the xxhash64 variant
    // (Dedup.minhashCandidates) keeps its golden OperatorSpec.
    "p03_minhash_lsh" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val cand = Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
        // one pass over the pair list: explode both endpoints rather
        // than unioning two scans of the join
        val perDoc = cand
          .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_candidates"))
        docs.select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckMinhashCand,
        |perdoc AS (SELECT doc_id, count(*) AS n_candidates
        |  FROM (SELECT a_id AS doc_id FROM cand
        |        UNION ALL SELECT b_id AS doc_id FROM cand)
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        |  coalesce(p.n_candidates, 0) AS n_candidates
        |FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ---- SimHash fingerprints + hamming distance to the next doc.
    // Uses the portable two-family polynomial hash (simhashPortable)
    // so DuckDB can recompute the fingerprints bit-for-bit; the
    // xxhash64 variant (Dedup.simhash) keeps its golden OperatorSpec.
    "p04_simhash" -> Q(
      (s, dir) => {
        // persist: fp feeds both sides of the id+1 self-join and Spark
        // has no cross-branch subplan reuse — without this the whole
        // explode + 60-column sign-sum aggregate runs once per side
        val fp = Dedup.simhashPortable(tbl(s, dir, "documents"), "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nxt = fp.toDF("b_id", "b_simhash")
        fp.join(nxt, col("b_id") === col("doc_id") + 1, "left")
          .select(col("doc_id"), col("simhash"),
            Dedup.hamming(col("simhash"), col("b_simhash")).cast("long")
              .as("ham_next"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $duckSimhashFp
        |SELECT a.doc_id AS doc_id, a.simhash AS simhash,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS ham_next
        |FROM fp a LEFT JOIN fp b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin)),

    // ---- complete near-duplicate pipeline: portable MinHash
    // signatures → LSH band buckets → candidate pairs → EXACT
    // shingle-Jaccard verification — the end-to-end shape a 100-TB
    // dedup run uses (mine cheaply, verify exactly, never touch n²
    // pairs). MinHash banding is the right miner for Jaccard targets:
    // on this templated corpus SimHash banding over-fires (same-
    // language docs share sign-sum fingerprints — millions of
    // candidates), while shingle-level MinHash yields ~2k candidates
    // at sf0.1. Reported per-doc (candidate count + best verified
    // similarity) so the result is non-empty on a dup-free corpus.
    // Fully oracle-checked: DuckDB replays the polynomial shingle
    // hashes, the universal-hash MinHash families, the banding, and
    // the exact Jaccard.
    "p17_neardup_pipeline" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val cand = Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
        val jac = Dedup.jaccardForPairs(cand, docs, "doc_id", "text")
        val perDoc = jac.select(explode(array(
            struct(col("a_id").as("doc_id"), col("jac")),
            struct(col("b_id").as("doc_id"), col("jac")))).as("x"))
          .select(col("x.doc_id").as("doc_id"), col("x.jac").as("jac"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_candidates"),
            round(max(col("jac")), 4).as("best_jac"))
        docs.select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
            col("best_jac"))
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH $duckMinhashCand,
          |$duckCandJaccard,
          |perdoc AS (SELECT doc_id, count(*) AS n_candidates,
          |    round(max(jac), 4) AS best_jac
          |  FROM (SELECT a_id AS doc_id, jac FROM jac
          |        UNION ALL SELECT b_id AS doc_id, jac FROM jac)
          |  GROUP BY doc_id)
          |SELECT d.doc_id AS doc_id, coalesce(p.n_candidates, 0) AS n_candidates,
          |  p.best_jac AS best_jac
          |FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
          |ORDER BY doc_id""".stripMargin
      }),

    // ---- embedding near-dup: max cosine over the next 20 vectors.
    // The pure range predicate (b_id ∈ (vec_id, vec_id+20]) has no
    // equi key and would plan as a BroadcastNestedLoopJoin. Banding
    // fixes that: with band = vec_id div 20, any in-range partner
    // lives in band or band+1, so probing both bands turns the range
    // join into ONE equi hash join plus a residual filter — the only
    // shape that survives a 100-TB corpus.
    "p05_embedding_neardup" -> Q(
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        val a = e.select(col("vec_id"), col("v").as("av"),
          explode(array(expr("vec_id div 20"), expr("vec_id div 20 + 1")))
            .as("band"))
        val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"),
          expr("vec_id div 20").as("band"))
        a.join(b, Seq("band"))
          .filter(col("b_id") > col("vec_id") && col("b_id") <= col("vec_id") + 20)
          .groupBy(col("vec_id"))
          .agg(round(max(Similarity.cosineExpr("av", "bv")), 4).as("max_cos"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS vec_id,
        |round(max(${duckCos("a.v", "b.v")}), 4) AS max_cos
        |FROM e a JOIN e b ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
        |GROUP BY a.vec_id ORDER BY vec_id""".stripMargin)),

    // ---- brute-force cosine top-10 for query vectors (vec_id < 5).
    "p06_ann_bruteforce" -> Q(
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", 10)
          .select(col("q_id"), col("neighbor_id"),
            round(col("score"), 4).as("score"), col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |scored AS (SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |  ${duckCos("q.v", "e.v")} AS s
        |  FROM q JOIN e ON e.vec_id <> q.vec_id),
        |ranked AS (SELECT q_id, neighbor_id, s,
        |  row_number() OVER (PARTITION BY q_id ORDER BY s DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT q_id, neighbor_id, round(s, 4) AS score, rnk
        |FROM ranked WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin)),

    // ---- LSH-bucketed ANN (scale path; recall measured in specs).
    // The hyperplane components are LCG modular arithmetic, so DuckDB
    // recomputes every bucket bit with the same sequential fold and
    // replays the whole bucket→candidate→top-k pipeline.
    "p07_ann_lsh" -> Q(
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        Similarity.lshTopK(e, e.filter(col("vec_id") < 50),
            "vec_id", "embedding", 10)
          .select(col("q_id"), col("neighbor_id"),
            round(col("score"), 4).as("score"), col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some {
        val (pA, pB, pP) = Similarity.PlaneParams
        // same sequential fold as Spark's aggregate(): list_reduce
        val bitExprs = (0 until 6).map { j =>
          s"""(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |  list_transform(range(1, 65),
             |    i -> v[i] * (CAST(($pA * (${j * 64} + i) + $pB) % $pP AS DOUBLE)
             |                 / $pP - 0.5))),
             |  (acc, x) -> acc + x) >= 0 THEN ${1L << j} ELSE 0 END)""".stripMargin
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |b AS (SELECT vec_id, v, CAST($bitExprs AS BIGINT) AS bucket FROM e),
          |q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id < 50),
          |scored AS (SELECT q.q_id, b.vec_id AS neighbor_id,
          |    ${duckCos("q.qv", "b.v")} AS s
          |  FROM q JOIN b USING (bucket)
          |  WHERE b.vec_id <> q.q_id),
          |ranked AS (SELECT q_id, neighbor_id, s, row_number() OVER (
          |    PARTITION BY q_id ORDER BY s DESC, neighbor_id) AS rnk
          |  FROM scored)
          |SELECT q_id, neighbor_id, round(s, 4) AS score, rnk
          |FROM ranked WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin
      }),

    // ---- as-of join: each view event sees the user's most recent
    // purchase value (AsOf composes union+window — one shuffle, no
    // nested loop; DuckDB's native ASOF JOIN is the oracle).
    "p16_asof_join" -> Q(
      (s, dir) => {
        val ev = tbl(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("purchase_value"))
        graft.operators.AsOf.join(views, purchases, "user_id", "ts",
            Seq("purchase_value"))
          .select(col("user_id"), col("event_id"), col("purchase_value"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH v AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts, max(value) AS purchase_value FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.user_id AS user_id, v.event_id AS event_id,
        |  p.purchase_value AS purchase_value
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
        |ORDER BY user_id, event_id""".stripMargin)),

    // ---- as-of join with a staleness bound: the most recent purchase
    // counts only if it happened within the last hour — the shape
    // feature pipelines use for bounded-staleness lookups. DuckDB's
    // native ASOF JOIN plus an interval guard is the oracle.
    "p18_asof_tolerance" -> Q(
      (s, dir) => {
        val ev = tbl(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("purchase_value"))
        graft.operators.AsOf.joinWithTolerance(views, purchases,
            "user_id", "ts", Seq("purchase_value"),
            (lt, rt) => unix_millis(lt) - unix_millis(rt) <= 3600000L)
          .select(col("user_id"), col("event_id"),
            col("purchase_value").as("purchase_value_1h"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH v AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts, max(value) AS purchase_value FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.user_id AS user_id, v.event_id AS event_id,
        |  CASE WHEN v.ts - p.ts <= INTERVAL 1 HOUR
        |    THEN p.purchase_value END AS purchase_value_1h
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
        |ORDER BY user_id, event_id""".stripMargin)),

    // ---- IVF ANN (coarse-quantized cells, nprobe probing). The
    // centroid sample orders by md5(vec_id) — deterministic AND
    // SQL-expressible, so DuckDB replays the whole index build:
    // sample 16 centroids, assign every vector to its best cell,
    // probe each query's best 4 cells, exact top-10 inside them.
    "p15_ann_ivf" -> Q(
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 50),
            "vec_id", "embedding", 10)
          .select(col("q_id"), col("neighbor_id"),
            round(col("score"), 4).as("score"), col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |ca AS (SELECT e.vec_id, e.v, c.cell, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY ${duckCos("e.v", "c.cv")} DESC, c.cell) AS rn
        |  FROM e CROSS JOIN cents c),
        |corpus AS (SELECT vec_id AS neighbor_id, v AS nv, cell
        |  FROM ca WHERE rn = 1),
        |qa AS (SELECT e.vec_id, e.v, c.cell, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY ${duckCos("e.v", "c.cv")} DESC, c.cell) AS rn
        |  FROM e CROSS JOIN cents c WHERE e.vec_id < 50),
        |qcells AS (SELECT vec_id AS q_id, v AS qv, cell FROM qa WHERE rn <= 4),
        |scored AS (SELECT qc.q_id, c.neighbor_id, ${duckCos("qc.qv", "c.nv")} AS s
        |  FROM qcells qc JOIN corpus c USING (cell)
        |  WHERE c.neighbor_id <> qc.q_id),
        |ranked AS (SELECT q_id, neighbor_id, s, row_number() OVER (
        |    PARTITION BY q_id ORDER BY s DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT q_id, neighbor_id, round(s, 4) AS score, rnk
        |FROM ranked WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin)),

    // ---- n-gram-heuristic language ID.
    "p08_langid" -> Q(
      (s, dir) => TextAnalysis.languageId(tbl(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |  str_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','is'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(tk, x -> x IN ('el','la','los','que','es'))) AS BIGINT) AS score_es,
        |  CAST(len(list_filter(tk, x -> x IN ('le','les','des','et','est'))) AS BIGINT) AS score_fr,
        |  CAST(len(list_filter(tk, x -> x IN ('的','是','了','在','我'))) AS BIGINT) AS score_zh
        |  FROM t),
        |g AS (SELECT *, greatest(score_en, score_de, score_es, score_fr, score_zh) AS best FROM s)
        |SELECT doc_id,
        |CASE WHEN best > 0 AND score_en = best THEN 'en'
        |     WHEN best > 0 AND score_de = best THEN 'de'
        |     WHEN best > 0 AND score_es = best THEN 'es'
        |     WHEN best > 0 AND score_fr = best THEN 'fr'
        |     WHEN best > 0 AND score_zh = best THEN 'zh'
        |     ELSE 'und' END AS guess_lang,
        |score_en, score_de, score_es, score_fr, score_zh
        |FROM g ORDER BY doc_id""".stripMargin)),

    // ---- quality scoring: exact integer/integer ratios.
    "p09_text_quality" -> Q(
      (s, dir) => TextAnalysis.qualityScore(tbl(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |CAST(len(tk) AS BIGINT) AS n_tokens,
        |CAST(length(text) AS DOUBLE)/CAST(len(tk) AS DOUBLE) AS chars_per_token,
        |CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |  / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |CAST(len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |  / CAST(len(tk) AS DOUBLE) AS stopword_ratio,
        |CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
        |  / CAST(length(text) AS DOUBLE) AS upper_ratio
        |FROM (SELECT doc_id, text,
        |  str_split_regex(trim(lower(text)), '\s+') AS tk FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // ---- token counting: whitespace + BPE-ish regex segmentation.
    "p10_token_count" -> Q(
      (s, dir) => TextAnalysis.tokenCounts(tbl(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |CAST(len(str_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        |CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- rolling polynomial document fingerprint.
    "p11_fingerprint" -> Q(
      (s, dir) => TextAnalysis.fingerprint(tbl(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
        |ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(range(1, length(text) + 1),
        |    i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |  (h, c) -> (h * 31 + c) % 1000000007)
        |END AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- deterministic samples: hash-threshold Bernoulli (p19) and
    // per-language stratified top-n by hash order (p20). Both derive
    // the pick from md5 of the key, so any engine recomputes the
    // exact sample — df.sample() would be partitioning-dependent.
    "p19_deterministic_sample" -> Q(
      (s, dir) => graft.operators.Sampling
        .deterministicSample(tbl(s, dir, "documents"), "doc_id", "2")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) < '2'
        |ORDER BY doc_id""".stripMargin)),

    "p20_stratified_sample" -> Q(
      (s, dir) => graft.operators.Sampling
        .stratifiedSample(tbl(s, dir, "documents"), "lang", "doc_id", 20)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id")),
      Some("""SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sr
        |  FROM documents)
        |WHERE sr <= 20 ORDER BY lang, doc_id""".stripMargin)),

    // ---- vocabulary heavy-hitters: top-15 tokens per language by
    // count (the tokenizer-training shape), merged through the
    // bounded TopK aggregate with a portable-hash tie-break.
    "p21_vocab_topk" -> Q(
      (s, dir) => TextAnalysis
        .vocabTopK(tbl(s, dir, "documents"), "lang", "text", 15)
        .select(col("lang"), col("rnk").cast("long").as("rnk"),
          col("token"), col("n_occ"))
        .orderBy(col("lang"), col("rnk")),
      Some(s"""WITH tok AS (SELECT lang, unnest(str_split_regex(
        |    trim(lower(text)), '\\s+')) AS token FROM documents),
        |counts AS (SELECT lang, token, count(*) AS n_occ,
        |  ${oPoly60("token")} AS th
        |  FROM tok GROUP BY lang, token),
        |ranked AS (SELECT lang, token, n_occ, row_number() OVER (
        |    PARTITION BY lang ORDER BY n_occ DESC, th) AS rnk
        |  FROM counts)
        |SELECT lang, rnk, token, n_occ FROM ranked
        |WHERE rnk <= 15 ORDER BY lang, rnk""".stripMargin)),

    // ---- corpus stats per language.
    "p12_doc_stats" -> Q(
      (s, dir) => tbl(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")) / count(lit(1))).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang")),
      Some("""SELECT lang, count(*) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |CAST(sum(n_chars) AS DOUBLE)/count(*) AS avg_chars,
        |count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- multimodal metadata over opaque binary content.
    "p13_multimodal_meta" -> Q(
      (s, dir) => MultiModal.asMedia(tbl(s, dir, "documents"), "doc_id", "text")
        .select(col("media_id"), col("media_type"),
          expr("octet_length(content)").cast("long").as("byte_len"),
          md5(col("content")).as("content_md5"),
          col("width"), col("height"))
        .orderBy(col("media_id")),
      Some("""SELECT doc_id AS media_id, 'image/stub' AS media_type,
        |CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |md5(text) AS content_md5,
        |CAST(doc_id % 640 + 32 AS INTEGER) AS width,
        |CAST(doc_id % 480 + 32 AS INTEGER) AS height
        |FROM documents ORDER BY media_id""".stripMargin)),

    // ---- multimodal feature extraction through the stub decoder
    // (mapPartitions plumbing; deterministic fake features). The stub
    // features are plain byte arithmetic over the UTF-8 payload, so
    // DuckDB can recompute them from hex(encode(text)) byte pairs —
    // the oracle checks the whole binary-column pipeline end to end.
    "p14_multimodal_features" -> Q(
      (s, dir) => MultiModal.extractFeatures(
          MultiModal.asMedia(tbl(s, dir, "documents"), "doc_id", "text"))
        .toDF()
        .select(col("media_id"), col("byte_len"),
          round(col("mean_byte"), 4).as("mean_byte"), col("entropy_bucket"))
        .orderBy(col("media_id")),
      Some("""WITH x AS (SELECT doc_id AS media_id,
        |    octet_length(encode(text)) AS n, hex(encode(text)) AS h
        |  FROM documents),
        |by AS (SELECT media_id, n, list_transform(range(1, n+1),
        |    i -> strpos('0123456789ABCDEF', substr(h, 2*i-1, 1))*16
        |       + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 17) AS bytes
        |  FROM x),
        |hist AS (SELECT media_id, n, bytes, list_transform(range(0, 8),
        |    j -> len(list_filter(bytes, v -> v // 32 = j))) AS counts
        |  FROM by)
        |SELECT media_id, CAST(n AS BIGINT) AS byte_len,
        |  CASE WHEN n = 0 THEN 0.0
        |    ELSE round(CAST(list_sum(bytes) AS DOUBLE) / n, 4) END AS mean_byte,
        |  CAST(least(7, len(list_filter(counts, c -> c * 8 > n))) AS INT)
        |    AS entropy_bucket
        |FROM hist ORDER BY media_id""".stripMargin)),

    // ---- TF-IDF top-5 terms per document: tf·ln((N+1)/(df+1)), tie-
    // broken by the portable token hash. The corpus size N rides a
    // broadcast 1-row aggregate and the per-doc merge is the bounded
    // TopK k-heap — no global windows, no driver counts.
    "p22_tfidf" -> Q(
      (s, dir) => Curation.tfidfTopK(tbl(s, dir, "documents"),
          "doc_id", "text", 5)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("token"), col("n_occ"), col("tfidf"))
        .orderBy(col("doc_id"), col("rnk")),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(str_split_regex(
        |    trim(lower(text)), '\\s+')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS n_occ FROM tok GROUP BY 1,2),
        |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.token, tf.n_occ,
        |  tf.n_occ * ln((n.n_docs + 1.0)/(dfreq.df + 1.0)) AS score,
        |  ${oPoly60("tf.token")} AS th
        |  FROM tf, dfreq, n WHERE dfreq.token = tf.token),
        |ranked AS (SELECT doc_id, token, n_occ, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, th) AS rnk FROM scored)
        |SELECT doc_id, rnk, token, n_occ, round(score, 6) AS tfidf
        |FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin)),

    // ---- benchmark decontamination: flag corpus docs sharing any
    // 8-token gram with the pseudo-benchmark set (doc_id % 100 = 0).
    // Gram hashes flow codegen'd; the benchmark gram set broadcasts,
    // so the corpus side never shuffles. The oracle intersects the
    // gram STRINGS — hash-vs-string equivalence is the same collision
    // argument p02 rests on.
    "p23_decontam" -> Q(
      (s, dir) => Curation.decontaminate(tbl(s, dir, "documents"),
          "doc_id", "text", col("doc_id") % 100 === 0, n = 8)
        .orderBy(col("doc_id")),
      Some("""WITH sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 6, 1)),
        |    i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
        |         tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7])) AS sh
        |  FROM (SELECT doc_id, str_split_regex(trim(lower(text)), '\s+') AS tk
        |        FROM documents)),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 100 = 0),
        |hits AS (SELECT s.doc_id, count(*) AS n_hits
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 100 <> 0) s
        |  JOIN bench USING (g) GROUP BY 1)
        |SELECT d.doc_id AS doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END
        |    AS INTEGER) AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 100 <> 0 ORDER BY doc_id""".stripMargin)),

    // ---- PII scrubbing: count + redact emails and phone numbers.
    // Narrow regexp pass; md5 of the scrubbed text proves the
    // redaction is byte-identical across engines. (This corpus is
    // synthetic word-salad, so counts are 0 here — OperatorSpec
    // exercises real redactions on crafted strings.)
    "p24_pii_scrub" -> Q(
      (s, dir) => Curation.scrubPii(tbl(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          md5(col("scrubbed")).as("scrubbed_md5"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
        |CAST(len(regexp_extract_all(text,
        |  '${Curation.EmailPattern}')) AS BIGINT) AS n_emails,
        |CAST(len(regexp_extract_all(text,
        |  '${Curation.PhonePattern}')) AS BIGINT) AS n_phones,
        |md5(regexp_replace(regexp_replace(text,
        |  '${Curation.EmailPattern}', '<EMAIL>', 'g'),
        |  '${Curation.PhonePattern}', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- deterministic shard export stats: 16 md5-nibble shards,
    // one partial-aggregated shuffle; the companion shardExport
    // (repartition + sortWithinPartitions + partitionBy write) is
    // spec-verified since a directory layout has no oracle table.
    "p25_shard_stats" -> Q(
      (s, dir) => Curation.shardStats(tbl(s, dir, "documents"),
          "doc_id", "n_chars", "lang")
        .orderBy(col("shard")),
      Some("""SELECT CAST(strpos('0123456789abcdef',
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER) AS shard,
        |count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |count(DISTINCT lang) AS n_langs, min(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin)),

    // ---- bigram document-frequency top-10 per language: the n-gram
    // LM / contamination-audit statistic, merged through the bounded
    // TopK aggregate with a portable-hash tie-break.
    "p26_bigram_topk" -> Q(
      (s, dir) => TextAnalysis.ngramDocFreqTopK(tbl(s, dir, "documents"),
          "lang", "text", 2, 10)
        .select(col("lang"), col("rnk").cast("long").as("rnk"),
          col("gram"), col("n_docs"))
        .orderBy(col("lang"), col("rnk")),
      Some(s"""WITH sh AS (SELECT doc_id, lang, list_distinct(list_transform(
        |    range(1, greatest(len(tk), 1)),
        |    i -> tk[i]||' '||tk[i+1])) AS sh
        |  FROM (SELECT doc_id, lang, str_split_regex(trim(lower(text)), '\\s+') AS tk
        |        FROM documents)),
        |counts AS (SELECT lang, unnest(sh) AS gram FROM sh),
        |cnt AS (SELECT lang, gram, count(*) AS n_docs,
        |  ${oPoly60("gram")} AS gh
        |  FROM counts GROUP BY 1, 2),
        |ranked AS (SELECT lang, gram, n_docs, row_number() OVER (
        |    PARTITION BY lang ORDER BY n_docs DESC, gh) AS rnk FROM cnt)
        |SELECT lang, rnk, gram, n_docs FROM ranked
        |WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin)),

    // ---- duplicate clusters: the end of the dedup pipeline. Mine
    // candidates (portable MinHash banding), verify exactly (shingle
    // Jaccard ≥ 0.5), then form connected components with the
    // O(log n)-round star contraction (Dedup.duplicateClusters) and
    // keep one representative per cluster. DuckDB replays the chain —
    // banding, Jaccard, and the components via a recursive
    // transitive-closure CTE — so the cluster assignment is
    // oracle-checked end to end.
    "p27_dup_clusters" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val cand = Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
        val pairs = Dedup.jaccardForPairs(cand, docs, "doc_id", "text")
          .filter(col("jac") >= 0.5)
        val comp = Dedup.duplicateClusters(pairs)
        val sizes = comp.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"))
        comp.join(sizes, Seq("cluster_id"))
          .select(col("id").as("doc_id"), col("cluster_id"),
            col("cluster_size"),
            when(col("id") === col("cluster_id"), 1).otherwise(0).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH $duckMinhashCand,
          |$duckCandJaccard,
          |edges0 AS (SELECT a_id, b_id FROM jac WHERE jac >= 0.5),
          |edges AS (SELECT a_id, b_id FROM edges0
          |  UNION SELECT b_id, a_id FROM edges0),
          |rec AS (
          |  WITH RECURSIVE reach(src, dst) AS (
          |    SELECT a_id AS src, a_id AS dst FROM edges
          |    UNION
          |    SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst)
          |  SELECT src, min(dst) AS cluster_id FROM reach GROUP BY src),
          |sizes AS (SELECT cluster_id, count(*) AS cluster_size
          |  FROM rec GROUP BY 1)
          |SELECT rec.src AS doc_id, rec.cluster_id AS cluster_id,
          |  sizes.cluster_size AS cluster_size,
          |  CAST(CASE WHEN rec.src = rec.cluster_id THEN 1 ELSE 0 END
          |    AS INTEGER) AS keep
          |FROM rec JOIN sizes USING (cluster_id)
          |ORDER BY doc_id""".stripMargin
      }),

    // ---- deterministic sequence packing: per shard, hash-ordered
    // docs accumulate into 512-token bins — the pre-training
    // batch-prep layout, reproducible on any engine or partitioning.
    "p29_seq_packing" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        Curation.packSequences(docs, "doc_id",
            size(graft.operators.Dedup.tokens(col("text"))),
            Curation.shardId(col("doc_id")), 512)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    CAST(len(str_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
        |      AS n_tok,
        |    CAST(strpos('0123456789abcdef',
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER)
        |      AS shard
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |    sum(n_tok) OVER (PARTITION BY shard
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, shard, n_tok,
        |  CAST((cum - n_tok) // 512 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- the full curation funnel: quality filter → drop non-
    // representative near-dup cluster members → shard for export.
    // Every stage reuses an oracle-proven piece (p09 quality, p27
    // clusters, p25 shard), composed the way a real pre-training
    // ingest run chains them.
    "p28_curation_funnel" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
          .filter(col("n_tokens") >= 30 && col("chars_per_token") <= 8.0)
          .select(col("doc_id"))
        val cand = Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
        val pairs = Dedup.jaccardForPairs(cand, docs, "doc_id", "text")
          .filter(col("jac") >= 0.5)
        val dupDrop = Dedup.duplicateClusters(pairs)
          .filter(col("id") =!= col("cluster_id"))
          .select(col("id").as("doc_id"))
        quality.join(dupDrop, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), Curation.shardId(col("doc_id")).as("shard"))
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH $duckMinhashCand,
          |$duckCandJaccard,
          |edges0 AS (SELECT a_id, b_id FROM jac WHERE jac >= 0.5),
          |edges AS (SELECT a_id, b_id FROM edges0
          |  UNION SELECT b_id, a_id FROM edges0),
          |rec AS (
          |  WITH RECURSIVE reach(src, dst) AS (
          |    SELECT a_id AS src, a_id AS dst FROM edges
          |    UNION
          |    SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst)
          |  SELECT src, min(dst) AS cluster_id FROM reach GROUP BY src),
          |dupdrop AS (SELECT src AS doc_id FROM rec WHERE src <> cluster_id),
          |quality AS (SELECT doc_id FROM (
          |    SELECT doc_id,
          |      CAST(len(str_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
          |        AS n_tokens,
          |      CAST(length(text) AS DOUBLE) /
          |        CAST(len(str_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE)
          |        AS chars_per_token
          |    FROM documents)
          |  WHERE n_tokens >= 30 AND chars_per_token <= 8.0)
          |SELECT q.doc_id AS doc_id,
          |  CAST(strpos('0123456789abcdef',
          |    substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER)
          |    AS shard
          |FROM quality q ANTI JOIN dupdrop d ON d.doc_id = q.doc_id
          |ORDER BY doc_id""".stripMargin
      }),

    // ---- overlapping token-window chunking (32-token chunks, 8-token
    // overlap) — the RAG / context-packing chunker. Narrow explode,
    // fully codegen'd, zero shuffles.
    "p32_chunking" -> Q(
      (s, dir) => TextAnalysis.chunk(tbl(s, dir, "documents"),
          "doc_id", "text", chunkTokens = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH t AS (SELECT doc_id,
        |    str_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |s AS (SELECT doc_id, tk, unnest(range(1, len(tk)+1, 24)) AS st FROM t)
        |SELECT doc_id, CAST((st - 1) // 24 AS BIGINT) AS chunk_idx,
        |  array_to_string(tk[st : st + 31], ' ') AS chunk_text,
        |  CAST(len(tk[st : st + 31]) AS BIGINT) AS n_tokens
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- incremental ingest dedup: a "new batch" (doc_id % 10 = 0)
    // dedups within itself (min-id representative per content hash)
    // and against the existing corpus (hash anti-join) — the daily
    // ingest shape. Hashes shuffle, never the text.
    "p33_incremental_dedup" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val newBatch = docs.filter(col("doc_id") % 10 === 0)
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_copies"))
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
          .select(md5(col("text")).as("text_hash")).distinct()
        newBatch.join(corpus, Seq("text_hash"), "left_anti")
          .orderBy(col("keep_id"))
      },
      Some("""WITH newb AS (SELECT md5(text) AS text_hash,
        |    min(doc_id) AS keep_id, count(*) AS n_copies
        |  FROM documents WHERE doc_id % 10 = 0 GROUP BY 1),
        |corpus AS (SELECT DISTINCT md5(text) AS text_hash FROM documents
        |  WHERE doc_id % 10 <> 0)
        |SELECT n.text_hash AS text_hash, n.keep_id AS keep_id,
        |  n.n_copies AS n_copies
        |FROM newb n ANTI JOIN corpus c ON c.text_hash = n.text_hash
        |ORDER BY keep_id""".stripMargin)),

    // ---- bloom-prefiltered incremental dedup: the cross-run twin of
    // p33 at the next scale tier. A corpus bloom filter (distributed
    // treeAggregate build, codegen probe) culls the new batch to its
    // plausible-duplicate shortlist; only that shortlist is exactly
    // verified, broadcast against the streaming corpus scan — so
    // neither side shuffles. The bloom only prunes; the result is
    // exact, and the oracle is the plain anti-join it replaces.
    "p47_bloom_dedup" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        Dedup.bloomNovelty(
            docs.filter(col("doc_id") % 10 =!= 3),
            docs.filter(col("doc_id") % 10 === 3),
            "doc_id", "text", expectedItems = 100000L, fpp = 0.03)
          .orderBy(col("doc_id"))
      },
      Some("""WITH batch AS (SELECT doc_id, md5(text) AS text_hash
        |  FROM documents WHERE doc_id % 10 = 3),
        |corpus AS (SELECT DISTINCT md5(text) AS text_hash FROM documents
        |  WHERE doc_id % 10 <> 3)
        |SELECT b.doc_id AS doc_id, b.text_hash AS text_hash,
        |  CAST(c.text_hash IS NULL AS BIGINT) AS is_novel
        |FROM batch b LEFT JOIN corpus c ON c.text_hash = b.text_hash
        |ORDER BY doc_id""".stripMargin)),

    // ---- per-doc token entropy: the lexical-diversity quality
    // signal (low entropy = boilerplate/keyword-stuffed spam). Terms
    // quantize to integer micro-nats before the per-doc sum (p40's
    // trick) so the doubles match under any partitioning and engine.
    "p50_token_entropy" -> Q(
      (s, dir) => TextAnalysis.tokenEntropy(tbl(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id,
        |    unnest(str_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |c AS (SELECT doc_id, t, count(*) AS c FROM tk GROUP BY 1, 2),
        |r AS (SELECT doc_id, c,
        |    CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS tm
        |  FROM c),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct, CAST(sum(tm) AS BIGINT) AS s_micro
        |  FROM r GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  round(ln(CAST(n_tokens AS DOUBLE)) -
        |    s_micro / 1000000.0 / n_tokens, 6) AS entropy
        |FROM g ORDER BY doc_id""".stripMargin)),

    // ---- markup-strip text extraction (the raw-crawl → WET step):
    // the corpus text is wrapped in deterministic HTML (script/style
    // blocks, attributes, entities) and the operator must recover the
    // clean text — script/style removal, tag strip, one-pass entity
    // decode, whitespace collapse. Narrow regex chain, zero shuffle;
    // DuckDB replays every regex (RE2-safe subset) byte-for-byte.
    "p49_markup_strip" -> Q(
      (s, dir) => {
        val html = concat(
          lit("<!DOCTYPE html><html><head><script type=\"text/javascript\">" +
            "var x = 1 < 2;</script><style>.c{color:red}</style></head>" +
            "<body><h1 class=\"title\">"),
          col("lang"),
          lit("</h1><p id=\"d"), col("doc_id").cast("string"), lit("\">"),
          col("text"),
          lit("</p><div>Tom &amp; Jerry &lt;3&nbsp;&quot;q&quot; " +
            "&#39;s&#39;</div></body></html>"))
        TextAnalysis.stripMarkup(
            tbl(s, dir, "documents").select(col("doc_id"), html.as("html")),
            "doc_id", "html")
          .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
            length(col("clean_text")).cast("long").as("clean_chars"),
            col("n_tags"), col("removed_frac"))
          .orderBy(col("doc_id"))
      },
      Some {
        """WITH h AS (SELECT doc_id,
          |    '<!DOCTYPE html><html><head><script type="text/javascript">'
          |    || 'var x = 1 < 2;</script><style>.c{color:red}</style></head>'
          |    || '<body><h1 class="title">' || lang || '</h1><p id="d'
          |    || CAST(doc_id AS VARCHAR) || '">' || text
          |    || '</p><div>Tom &amp; Jerry &lt;3&nbsp;&quot;q&quot; '
          |    || '&#39;s&#39;</div></body></html>' AS html
          |  FROM documents),
          |nb AS (SELECT doc_id, html, regexp_replace(regexp_replace(html,
          |    '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          |    '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS nb FROM h),
          |d AS (SELECT doc_id, html,
          |    len(regexp_extract_all(nb, '<[^>]*>')) AS n_tags,
          |    replace(replace(replace(replace(replace(replace(
          |      regexp_replace(nb, '<[^>]*>', ' ', 'g'),
          |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS dec
          |  FROM nb),
          |c AS (SELECT doc_id, html, n_tags,
          |    trim(regexp_replace(dec, '\s+', ' ', 'g')) AS clean FROM d)
          |SELECT doc_id, md5(clean) AS clean_md5,
          |  CAST(length(clean) AS BIGINT) AS clean_chars,
          |  CAST(n_tags AS BIGINT) AS n_tags,
          |  round(1.0 - CAST(length(clean) AS DOUBLE) /
          |    CAST(length(html) AS DOUBLE), 6) AS removed_frac
          |FROM c ORDER BY doc_id""".stripMargin
      }),

    // ---- deterministic train/val/test split + near-dup leakage
    // audit: content-hash split (exact dups can't straddle splits by
    // construction), then the oracle-proven MinHash→LSH→exact-Jaccard
    // miner flags documents whose verified near-dup (jac ≥ 0.5) lives
    // in a DIFFERENT split — the eval-hygiene gate before trusting
    // val/test numbers. DuckDB replays the split hash, the full
    // candidate mine, the exact Jaccard, and the cross-split rollup.
    "p48_split_leakage" -> Q(
      (s, dir) => Curation.splitLeakage(tbl(s, dir, "documents"),
          "doc_id", "text", tau = 0.5)
        .orderBy(col("doc_id")),
      Some {
        s"""WITH $duckMinhashCand,
          |$duckCandJaccard,
          |sp AS (SELECT doc_id, CASE
          |    WHEN ${QueryUtil.oPoly("text", 31L, 1000000007L)} % 10 <= 7
          |      THEN 'train'
          |    WHEN ${QueryUtil.oPoly("text", 31L, 1000000007L)} % 10 = 8
          |      THEN 'val'
          |    ELSE 'test' END AS split
          |  FROM documents),
          |cross_leaks AS (SELECT j.a_id, j.b_id
          |  FROM jac j JOIN sp sa ON sa.doc_id = j.a_id
          |  JOIN sp sb ON sb.doc_id = j.b_id
          |  WHERE j.jac >= 0.5 AND sa.split <> sb.split),
          |perdoc AS (SELECT doc_id, count(*) AS n_cross_leaks FROM (
          |    SELECT a_id AS doc_id FROM cross_leaks
          |    UNION ALL SELECT b_id AS doc_id FROM cross_leaks)
          |  GROUP BY doc_id)
          |SELECT d.doc_id AS doc_id, sp.split AS split,
          |  coalesce(p.n_cross_leaks, 0) AS n_cross_leaks,
          |  CAST(coalesce(p.n_cross_leaks, 0) > 0 AS BIGINT) AS is_leak
          |FROM documents d JOIN sp ON sp.doc_id = d.doc_id
          |LEFT JOIN perdoc p ON p.doc_id = d.doc_id
          |ORDER BY doc_id""".stripMargin
      }),

    // ---- canonical text normalization: Unicode NFC (custom codegen
    // expression — Spark has no built-in normalizer), whitespace
    // collapse, trim, lowercase; md5 of the canonical form is the
    // content-identity key downstream dedup would use. Narrow, no
    // shuffle; DuckDB's nfc_normalize replays the transform exactly.
    "p34_text_normalize" -> Q(
      (s, dir) => tbl(s, dir, "documents")
        .select(col("doc_id"),
          lower(trim(regexp_replace(
            graft.functions.NormalizeNFC(col("text")), "\\s+", " ")))
            .as("clean"))
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          length(col("clean")).cast("long").as("clean_len"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |md5(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g'))))
        |  AS clean_md5,
        |CAST(length(lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g'))))
        |  AS BIGINT) AS clean_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Gopher-style repetition quality gates (Rae et al. 2021):
    // duplicate-token / duplicate-3-gram / duplicate-line fractions
    // per document — the standard boilerplate/spam filters a
    // pre-training curation run applies before dedup. Narrow per-row
    // array math, zero shuffle; DuckDB replays the exact ratios.
    "p35_repetition" -> Q(
      (s, dir) => TextAnalysis.repetitionSignals(
          tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    str_split_regex(trim(lower(text)), '\s+') AS tk,
        |    str_split(text, chr(10)) AS ln
        |  FROM documents),
        |g AS (SELECT doc_id, tk, ln,
        |    greatest(len(tk) - 2, 0) AS tot3,
        |    len(list_distinct(list_transform(
        |      range(1, greatest(len(tk) - 1, 1)),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS dist3
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(tk) > 0 THEN
        |    round((len(tk) - len(list_distinct(tk)))::DOUBLE / len(tk), 4)
        |    ELSE 0.0 END AS dup_token_frac,
        |  CASE WHEN tot3 > 0 THEN
        |    round((tot3 - dist3)::DOUBLE / tot3, 4)
        |    ELSE 0.0 END AS dup_3gram_frac,
        |  CASE WHEN len(ln) > 0 THEN
        |    round((len(ln) - len(list_distinct(ln)))::DOUBLE / len(ln), 4)
        |    ELSE 0.0 END AS dup_line_frac
        |FROM g ORDER BY doc_id""".stripMargin)),

    // ---- PQ (product-quantization) ANN: the memory-compressed scale
    // path (8 codes of 16 entries over 64 dims = 32× smaller corpus
    // at search time). Codebook = md5-order sample subvectors, codes
    // = first-argmin assignment, scoring = per-query LUT + ADC sums —
    // all deterministic left-to-right double math, so DuckDB replays
    // the full index build AND the ranking. Recall vs brute force is
    // measured in OperatorSpec.
    "p36_ann_pq" -> Q(
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        Similarity.pqTopK(e, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", 10)
          .select(col("q_id"), col("neighbor_id"),
            round(col("score"), 4).as("score"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
        |n AS (SELECT vec_id, list_transform(raw, x ->
        |    x / sqrt(list_dot_product(raw, raw))) AS v FROM e),
        |s AS (SELECT vec_id, v FROM n
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |cbl AS (SELECT list(v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |  AS cb FROM s),
        |dists AS (SELECT n.vec_id, t.mi,
        |    list_transform(range(1, 17), j ->
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 9), dd ->
        |          (n.v[t.mi*8+dd] - cbl.cb[j][t.mi*8+dd]) *
        |          (n.v[t.mi*8+dd] - cbl.cb[j][t.mi*8+dd]))),
        |        (a, b) -> a + b)) AS dl
        |  FROM n, range(0, 8) t(mi), cbl),
        |codel AS (SELECT vec_id,
        |    list(list_position(dl, list_min(dl)) ORDER BY mi) AS code
        |  FROM dists GROUP BY vec_id),
        |qlut AS (SELECT vec_id AS q_id, list(dl ORDER BY mi) AS lut
        |  FROM dists WHERE vec_id < 5 GROUP BY vec_id),
        |scored AS (SELECT q.q_id, c.vec_id AS neighbor_id,
        |    -list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, 9), mi -> q.lut[mi][c.code[mi]])),
        |      (a, b) -> a + b) AS sc
        |  FROM qlut q, codel c WHERE c.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, neighbor_id, sc, row_number() OVER (
        |    PARTITION BY q_id ORDER BY sc DESC, neighbor_id) AS rnk FROM scored)
        |SELECT q_id, neighbor_id, round(sc, 4) AS score, rnk
        |FROM ranked WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin)),

    // ---- PQ shortlist + exact rerank: the production ANN query path
    // (64-entry codebooks, ADC top-100 shortlist, exact cosine on the
    // shortlist only). DuckDB replays the codebook, codes, LUT
    // shortlist AND the exact rerank.
    "p37_ann_pq_rerank" -> Q(
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        Similarity.pqRerankTopK(e, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", 10)
          .select(col("q_id"), col("neighbor_id"),
            round(col("score"), 4).as("score"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
        |n AS (SELECT vec_id, list_transform(raw, x ->
        |    x / sqrt(list_dot_product(raw, raw))) AS v FROM e),
        |s AS (SELECT vec_id, v FROM n
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
        |cbl AS (SELECT list(v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |  AS cb FROM s),
        |dists AS (SELECT n.vec_id, t.mi,
        |    list_transform(range(1, 65), j ->
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 9), dd ->
        |          (n.v[t.mi*8+dd] - cbl.cb[j][t.mi*8+dd]) *
        |          (n.v[t.mi*8+dd] - cbl.cb[j][t.mi*8+dd]))),
        |        (a, b) -> a + b)) AS dl
        |  FROM n, range(0, 8) t(mi), cbl),
        |codel AS (SELECT vec_id,
        |    list(list_position(dl, list_min(dl)) ORDER BY mi) AS code
        |  FROM dists GROUP BY vec_id),
        |qlut AS (SELECT vec_id AS q_id, list(dl ORDER BY mi) AS lut
        |  FROM dists WHERE vec_id < 5 GROUP BY vec_id),
        |scored AS (SELECT q.q_id, c.vec_id AS neighbor_id,
        |    -list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, 9), mi -> q.lut[mi][c.code[mi]])),
        |      (a, b) -> a + b) AS sc
        |  FROM qlut q, codel c WHERE c.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, neighbor_id, sc, row_number() OVER (
        |    PARTITION BY q_id ORDER BY sc DESC, neighbor_id) AS rnk FROM scored),
        |short AS (SELECT q_id, neighbor_id FROM ranked WHERE rnk <= 100),
        |rer AS (SELECT s2.q_id, s2.neighbor_id,
        |    list_dot_product(qe.raw, ne.raw) /
        |      (sqrt(list_dot_product(qe.raw, qe.raw)) *
        |       sqrt(list_dot_product(ne.raw, ne.raw))) AS sc2
        |  FROM short s2 JOIN e qe ON qe.vec_id = s2.q_id
        |  JOIN e ne ON ne.vec_id = s2.neighbor_id),
        |ranked2 AS (SELECT q_id, neighbor_id, sc2, row_number() OVER (
        |    PARTITION BY q_id ORDER BY sc2 DESC, neighbor_id) AS rnk FROM rer)
        |SELECT q_id, neighbor_id, round(sc2, 4) AS score, rnk
        |FROM ranked2 WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin)),

    // ---- deterministic training-mixture construction: the
    // domain-weights recipe step (keep web, subsample books 0.6,
    // oversample code 2.5 — fractional copies hash-sampled on
    // md5(key, copy)). The three "domains" are doc_id mod 3 slices of
    // the documents table; DuckDB replays every copy and threshold.
    "p38_mixture" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        def slice(r: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === r)
          .select(col("doc_id"))
        graft.operators.Sampling.mixture(Seq(
            ("web", slice(0), 1.0),
            ("books", slice(1), 0.6),
            ("code", slice(2), 2.5)), "doc_id")
          .orderBy(col("source"), col("copy"), col("doc_id"))
      },
      Some {
        val t06 = graft.operators.Sampling.hexThreshold(0.6)
        val t05 = graft.operators.Sampling.hexThreshold(0.5)
        s"""SELECT 'web' AS source, 0 AS copy, doc_id FROM documents
          |  WHERE doc_id % 3 = 0
          |UNION ALL
          |SELECT 'books', 0, doc_id FROM documents
          |  WHERE doc_id % 3 = 1
          |    AND md5(CAST(doc_id AS VARCHAR) || ':0') < '$t06'
          |UNION ALL
          |SELECT 'code', 0, doc_id FROM documents WHERE doc_id % 3 = 2
          |UNION ALL
          |SELECT 'code', 1, doc_id FROM documents WHERE doc_id % 3 = 2
          |UNION ALL
          |SELECT 'code', 2, doc_id FROM documents
          |  WHERE doc_id % 3 = 2
          |    AND md5(CAST(doc_id AS VARCHAR) || ':2') < '$t05'
          |ORDER BY source, copy, doc_id""".stripMargin
      }),

    // ---- distributed BPE merge training (8 merges): one corpus
    // aggregation builds the vocabulary, then vocabulary-sized rounds
    // learn (pair, count) merges with a deterministic argmax. DuckDB
    // unrolls all 8 rounds (symbol strings are SOH-delimited so merge
    // application is a plain non-overlapping replace) and reproduces
    // the learned merge table exactly.
    "p39_bpe_merges" -> Q(
      (s, dir) => {
        val merges = TextAnalysis.bpeMerges(tbl(s, dir, "documents"),
          "text", 8)
        import s.implicits._
        merges.zipWithIndex.map { case ((a, b, c), i) =>
          ((i + 1).toLong, a, b, c)
        }.toDF("rnk", "merge_left", "merge_right", "pair_count")
          .orderBy(col("rnk"))
      },
      Some {
        val sel = (0 until 8).map(r =>
          s"SELECT rnk, a AS merge_left, b AS merge_right, cnt AS pair_count FROM best$r")
          .mkString("\nUNION ALL\n")
        s"""WITH $duckBpe8
           |$sel ORDER BY rnk""".stripMargin
      }),

    // ---- reproducible k-means over embeddings: md5-sampled init,
    // TopK(1) argmax assignment, integer-micro quantized centroid
    // means — every iteration bit-replayable, so DuckDB verifies the
    // full 2-iteration Lloyd run (MLlib's KMeans could never be
    // oracle-checked: seed- and partitioning-dependent).
    "p30_kmeans" -> Q(
      (s, dir) => Similarity.kmeansAssign(tbl(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 2)
        .orderBy(col("vec_id")),
      Some {
        s"""WITH $duckKmeansAsg
          |SELECT a.vec_id AS vec_id, a.cell AS cell, s.n_members AS n_members
          |FROM asg2 a JOIN (SELECT cell, count(*) AS n_members FROM asg2
          |  GROUP BY 1) s USING (cell)
          |ORDER BY vec_id""".stripMargin
      }),

    // ---- CCNet-style LM quality split (Wenzek et al. 2019): score
    // every doc's perplexity under an add-½-smoothed bigram LM
    // trained on the corpus, split into head/middle/tail terciles.
    // With k=½ each bigram log-prob is a difference of logs of exact
    // integers quantized to micro-nats before summing, so DuckDB
    // reproduces every double bit-for-bit.
    "p40_lm_perplexity" -> Q(
      (s, dir) => TextAnalysis.lmPerplexity(tbl(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some {
        """WITH tok AS (SELECT doc_id,
          |    str_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
          |tok2 AS (SELECT * FROM tok WHERE len(tk) >= 2),
          |bg AS (SELECT doc_id, tk[i] AS a, tk[i+1] AS b
          |  FROM tok2, unnest(range(1, len(tk))) t(i)),
          |db AS (SELECT doc_id, a, b, count(*) AS m FROM bg GROUP BY 1, 2, 3),
          |cab AS (SELECT a, b, CAST(sum(m) AS BIGINT) AS c_ab
          |  FROM db GROUP BY 1, 2),
          |ca AS (SELECT t, count(*) AS c_a
          |  FROM (SELECT unnest(tk) AS t FROM tok2) GROUP BY 1),
          |v AS (SELECT count(*) AS v_size FROM ca),
          |lm AS (SELECT a, b, CAST(round(
          |    (ln(2*c_ab + 1) - ln(2*c_a + v_size)) * 1000000) AS BIGINT)
          |    AS lp_micro
          |  FROM cab JOIN ca ON cab.a = ca.t CROSS JOIN v),
          |sc AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
          |    CAST(sum(m * lp_micro) AS BIGINT) AS lp_total
          |  FROM db JOIN lm USING (a, b) GROUP BY 1),
          |scored AS (SELECT doc_id, n_bigrams,
          |    (-CAST(lp_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
          |      / 1000000.0 AS avg_nll
          |  FROM sc),
          |r AS (SELECT doc_id, n_bigrams, avg_nll,
          |    ntile(3) OVER (ORDER BY avg_nll, doc_id) AS t3 FROM scored)
          |SELECT doc_id, n_bigrams, avg_nll,
          |  CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
          |    AS ppl_bucket
          |FROM r ORDER BY doc_id""".stripMargin
      }),

    // ---- BPE encode: tokenize the corpus with the merges p39
    // trains. Merges apply to the distinct-word table (vocab-sized),
    // docs join the word→token-count map on the word key. The oracle
    // replays training (shared chain with p39, carrying w) and reads
    // token counts straight off the final symbol strings.
    "p42_bpe_encode" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val merges = TextAnalysis.bpeMerges(docs, "text", 8)
        TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH $duckBpe8,
          |wt AS (SELECT w, CAST(len(str_split(trim(s, chr(1)),
          |    chr(1)||chr(1))) AS BIGINT) AS ntok FROM words8),
          |dt AS (SELECT doc_id,
          |    unnest(str_split_regex(trim(lower(text)), '\\s+')) AS w
          |  FROM documents),
          |dm AS (SELECT doc_id, w, count(*) AS m FROM dt
          |  WHERE length(w) >= 1 GROUP BY 1, 2)
          |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_words,
          |  CAST(sum(m * ntok) AS BIGINT) AS n_bpe_tokens
          |FROM dm JOIN wt USING (w) GROUP BY 1 ORDER BY doc_id""".stripMargin
      }),

    // ---- DSIR importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): hashed-unigram
    // bucket distributions for target (lang='en') vs raw corpus;
    // per-doc log importance weight = Σ c_b · log-ratio, folded in
    // bucket order so the double sequence is engine-independent.
    "p43_dsir" -> Q(
      (s, dir) => Curation.dsirWeights(tbl(s, dir, "documents"),
          "doc_id", "text", col("lang") === "en", buckets = 64)
        .orderBy(col("doc_id")),
      Some {
        s"""WITH tk AS (SELECT doc_id, lang = 'en' AS is_t,
          |    unnest(str_split_regex(trim(lower(text)), '\\s+')) AS token
          |  FROM documents),
          |tk2 AS (SELECT doc_id, is_t,
          |    ${QueryUtil.oPoly60("token")} % 64 AS b FROM tk),
          |dist AS (SELECT b,
          |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
          |    count(*) AS cr FROM tk2 GROUP BY 1),
          |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
          |    CAST(sum(cr) AS BIGINT) AS nr FROM dist),
          |lr AS (SELECT b, ln((ct + 1.0) / (nt + 64.0)) -
          |    ln((cr + 1.0) / (nr + 64.0)) AS lr
          |  FROM dist CROSS JOIN tot),
          |dc AS (SELECT doc_id, b, count(*) AS c FROM tk2 GROUP BY 1, 2)
          |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |    list(c * lr ORDER BY b)), (a, x) -> a + x), 6) AS weight
          |FROM dc JOIN lr USING (b) GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin
      }),

    // ---- exact-substring duplication profile (Lee et al. 2021): the
    // fraction of each doc's 8-gram positions whose gram occurs more
    // than once corpus-wide. Positional poly hashes from the codegen
    // ShingleHashes pass; DuckDB recomputes every hash from gram text.
    "p44_dup_spans" -> Q(
      (s, dir) => Dedup.duplicatedSpans(tbl(s, dir, "documents"),
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id")),
      Some {
        s"""WITH tok AS (SELECT doc_id,
          |    str_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
          |g0 AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS gr
          |  FROM tok, unnest(range(1, len(tk) - 6)) t(i)),
          |g AS (SELECT doc_id,
          |    ${QueryUtil.oPoly("gr", 31L, 1000000007L)} AS gh FROM g0),
          |c AS (SELECT gh, count(*) AS cnt FROM g GROUP BY 1)
          |SELECT doc_id, count(*) AS n_grams,
          |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_dup_grams,
          |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
          |    / CAST(count(*) AS DOUBLE) AS dup_frac
          |FROM g JOIN c USING (gh) GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin
      }),

    // ---- C4/RefinedWeb-style span dedup: the REMOVAL twin of the
    // p44 profile — non-overlapping 16-token spans, global first
    // occurrence survives (argmin over the span md5), documents
    // reassemble from their kept spans. kept_md5 fingerprints the
    // surviving text so the oracle verifies reassembly byte-for-byte.
    "p46_span_dedup" -> Q(
      (s, dir) => Dedup.spanDedup(tbl(s, dir, "documents"),
          "doc_id", "text", width = 16)
        .orderBy(col("id")),
      Some {
        """WITH tok AS (SELECT doc_id AS id,
          |    str_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
          |spans AS (
          |  SELECT id, i AS pos,
          |      array_to_string(tk[(i*16+1):(i*16+16)], ' ') AS span
          |    FROM tok, unnest(range(0, CAST(ceil(len(tk)/16.0) AS BIGINT))) t(i)
          |    WHERE len(tk) > 16
          |  UNION ALL
          |  SELECT id, 0 AS pos, array_to_string(tk, ' ') AS span
          |    FROM tok WHERE len(tk) <= 16),
          |firsts AS (SELECT h, id AS fid, pos AS fpos FROM (
          |    SELECT md5(span) AS h, id, pos, row_number() OVER (
          |        PARTITION BY md5(span) ORDER BY id, pos) AS rn
          |      FROM spans) WHERE rn = 1),
          |tagged AS (SELECT s.id, s.pos, s.span,
          |    (f.fid = s.id AND f.fpos = s.pos) AS keep
          |  FROM spans s JOIN firsts f ON md5(s.span) = f.h)
          |SELECT id, count(*) AS n_spans,
          |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  md5(COALESCE(array_to_string(
          |    list(span ORDER BY pos) FILTER (WHERE keep), ' '), ''))
          |    AS kept_md5
          |FROM tagged GROUP BY id ORDER BY id""".stripMargin
      }),

    // ---- domain drift: KL(source ‖ corpus) over hashed unigram
    // buckets — the mixture-tuning / drift-monitoring diagnostic.
    // Same bucket space as p43; per-source sums fold in bucket order.
    "p45_domain_kl" -> Q(
      (s, dir) => Curation.domainDivergence(tbl(s, dir, "documents"),
          "source", "text", buckets = 64)
        .orderBy(col("source")),
      Some {
        s"""WITH tk AS (SELECT source,
          |    unnest(str_split_regex(trim(lower(text)), '\\s+')) AS token
          |  FROM documents),
          |tk2 AS (SELECT source,
          |    ${QueryUtil.oPoly60("token")} % 64 AS b FROM tk),
          |corpus AS (SELECT b, count(*) AS cb FROM tk2 GROUP BY 1),
          |n AS (SELECT CAST(sum(cb) AS BIGINT) AS n FROM corpus),
          |grp AS (SELECT source, b, count(*) AS cgb FROM tk2 GROUP BY 1, 2),
          |ng AS (SELECT source, CAST(sum(cgb) AS BIGINT) AS ng
          |  FROM grp GROUP BY 1),
          |bs AS (SELECT unnest(range(0, 64)) AS b),
          |base AS (SELECT ng.source, bs.b, ng.ng,
          |    COALESCE(corpus.cb, 0) AS cb,
          |    COALESCE(grp.cgb, 0) AS cgb, n.n
          |  FROM ng CROSS JOIN bs
          |  LEFT JOIN corpus ON corpus.b = bs.b
          |  LEFT JOIN grp ON grp.source = ng.source AND grp.b = bs.b
          |  CROSS JOIN n),
          |t AS (SELECT source, b, ng,
          |    ((cgb + 1.0) / (ng + 64.0)) *
          |      (ln((cgb + 1.0) / (ng + 64.0)) -
          |       ln((cb + 1.0) / (n + 64.0))) AS t
          |  FROM base)
          |SELECT source, CAST(min(ng) AS BIGINT) AS n_tokens,
          |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |    list(t ORDER BY b)), (a, x) -> a + x), 6) AS kl
          |FROM t GROUP BY source ORDER BY source""".stripMargin
      }),

    // ---- embedding preprocessing: mean-center (integer-micro corpus
    // means, broadcast), L2-normalize, Matryoshka-truncate to 32 of
    // 64 dims, re-normalize. kept_mass is the MRL quality diagnostic
    // (how much of the unit vector the truncation keeps). Zero
    // shuffles beyond the means aggregate; DuckDB replays every fold.
    "p51_embed_preprocess" -> Q(
      (s, dir) => Similarity.preprocess(tbl(s, dir, "embeddings"),
          "vec_id", "embedding", keepDims = 32)
        .select(col("vec_id"),
          round(col("norm_centered"), 6).as("norm_centered"),
          round(col("kept_mass"), 6).as("kept_mass"),
          expr("""aggregate(v_prep, CAST(0 AS BIGINT),
            (acc, x) -> acc + CAST(round(x * 1000000, 0) AS BIGINT))""")
            .as("vprep_sum_micro"))
        .orderBy(col("vec_id")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |m AS (SELECT d,
        |    CAST(sum(CAST(round(v[d]*1000000) AS BIGINT)) AS BIGINT) AS sx,
        |    count(*) AS n
        |  FROM e, range(1, 65) t(d) GROUP BY d),
        |mv AS (SELECT list(CAST(sx AS DOUBLE)/n/1000000.0 ORDER BY d)
        |    AS mean_v FROM m),
        |c AS (SELECT vec_id,
        |    list_transform(range(1, 65), d -> v[d] - mean_v[d]) AS cv
        |  FROM e CROSS JOIN mv),
        |c2 AS (SELECT vec_id, cv,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(cv, x -> x*x)), (a, b) -> a + b))
        |      AS norm_centered FROM c),
        |t AS (SELECT vec_id, norm_centered,
        |    list_transform(cv[1:32], x -> x / norm_centered) AS tv
        |  FROM c2),
        |t2 AS (SELECT vec_id, norm_centered, tv,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(tv, x -> x*x)), (a, b) -> a + b))
        |      AS kept_mass FROM t),
        |p AS (SELECT vec_id, norm_centered, kept_mass,
        |    list_transform(tv, x -> x / kept_mass) AS vp FROM t2)
        |SELECT vec_id, round(norm_centered, 6) AS norm_centered,
        |  round(kept_mass, 6) AS kept_mass,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(vp, x -> CAST(round(x*1000000) AS BIGINT))),
        |    (a, b) -> a + b) AS BIGINT) AS vprep_sum_micro
        |FROM p ORDER BY vec_id""".stripMargin)),

    // ---- SemDeDup (Abbas et al. 2023): k-means clusters bound the
    // pairwise cosine scan to in-cluster pairs; smallest vec_id of a
    // near-dup pair survives. DuckDB replays both Lloyd iterations
    // AND the in-cluster pair scan.
    "p41_semdedup" -> Q(
      (s, dir) => Similarity.semDedup(tbl(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 2, tau = 0.35)
        .select(col("vec_id"), col("cell"),
          col("is_kept").cast("long").as("is_kept"))
        .orderBy(col("vec_id")),
      Some {
        s"""WITH $duckKmeansAsg,
          |dup AS (SELECT DISTINCT b.vec_id
          |  FROM asg2 a JOIN asg2 b ON a.cell = b.cell
          |    AND a.vec_id < b.vec_id
          |  JOIN e ea ON ea.vec_id = a.vec_id
          |  JOIN e eb ON eb.vec_id = b.vec_id
          |  WHERE ${duckCos("ea.v", "eb.v")} >= 0.35)
          |SELECT g.vec_id AS vec_id, g.cell AS cell,
          |  CAST(d.vec_id IS NULL AS BIGINT) AS is_kept
          |FROM asg2 g LEFT JOIN dup d ON g.vec_id = d.vec_id
          |ORDER BY vec_id""".stripMargin
      }),

    // ---- BM25 lexical retrieval (Robertson TREC-3; Lucene idf):
    // inverted-index scoring with query-term pruning ahead of all
    // corpus-scale work, micro-nat-quantized so DuckDB replays every
    // score exactly. Queries = first 5 tokens of every 100th doc.
    "p59_bm25_topk" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val queries = docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("query_id"),
            concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 5))
              .as("qtext"))
        Retrieval.bm25TopK(docs, "doc_id", "text",
            queries, "query_id", "qtext", k = 10)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(s"""WITH $duckBm25
        |SELECT query_id, rnk, doc_id, score_micro
        |FROM bm WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // ---- Hybrid retrieval: reciprocal-rank fusion (Cormack SIGIR
    // 2009) of the BM25 top-20 with the dense cosine top-20 over the
    // embeddings table (doc_id ≡ vec_id in the testdata). Both
    // rankings AND the fused scores replay in DuckDB.
    "p60_hybrid_rrf" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val emb = tbl(s, dir, "embeddings")
        val queries = docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("query_id"),
            concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 5))
              .as("qtext"))
        val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
          queries, "query_id", "qtext", k = 20)
        // dense side is the production ANN path (PQ shortlist + exact
        // rerank), not the O(queries×corpus) brute-force baseline —
        // corpus-scan work is bounded by the 32×-compressed code
        // table, exact scoring by queries × shortlist
        val dense = Similarity.pqRerankTopK(emb,
            emb.filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", 20)
          .select(col("q_id").as("query_id"),
            col("neighbor_id").as("doc_id"), col("rnk"))
        Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", "rnk",
            k = 10)
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(s"""WITH $duckHybrid
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf_micro,
        |  CAST(coalesce(rank_lex, 0) AS BIGINT) AS rank_lex,
        |  CAST(coalesce(rank_dense, 0) AS BIGINT) AS rank_dense
        |FROM rr WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // ---- Retrieval evaluation harness: MRR / recall@10 / nDCG@10
    // of the hybrid ranking, ground truth = same-source documents
    // (self excluded). Discount weights and all ratios are
    // micro-quantized, so DuckDB replays every metric exactly.
    "p61_retrieval_metrics" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val emb = tbl(s, dir, "embeddings")
        val queries = docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("query_id"),
            concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 5))
              .as("qtext"))
        val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
          queries, "query_id", "qtext", k = 20)
        // same production dense path as p60 (PQ shortlist + rerank)
        val dense = Similarity.pqRerankTopK(emb,
            emb.filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", 20)
          .select(col("q_id").as("query_id"),
            col("neighbor_id").as("doc_id"), col("rnk"))
        val hyb = Retrieval.rrfFuse(lex, dense, "query_id", "doc_id",
          "rnk", k = 10)
        val src = docs.select(col("doc_id"), col("source"))
        val relevance = src.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("query_id"), col("source"))
          .join(src, Seq("source"))
          .filter(col("doc_id") =!= col("query_id"))
          .select(col("query_id"), col("doc_id"))
        Retrieval.rankingMetrics(hyb, "query_id", "doc_id", "rnk",
            relevance, k = 10)
          .orderBy(col("query_id"))
      },
      Some(s"""WITH $duckHybrid,
        |hyb AS (SELECT query_id, doc_id, rnk FROM rr WHERE rnk <= 10),
        |rel AS (SELECT q.doc_id AS query_id, d.doc_id AS doc_id
        |  FROM documents q JOIN documents d USING (source)
        |  WHERE q.doc_id % 100 = 0 AND d.doc_id <> q.doc_id),
        |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |  FROM rel GROUP BY 1),
        |perq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits,
        |    min(rnk) AS first_rank,
        |    CAST(sum(CAST(round(1000000.0 /
        |      log2(CAST(rnk AS DOUBLE) + 1.0)) AS BIGINT)) AS BIGINT)
        |      AS dcg_micro
        |  FROM hyb JOIN rel USING (query_id, doc_id) GROUP BY 1),
        |anch AS (SELECT query_id, coalesce(n_rel, 0) AS n_rel,
        |    coalesce(n_hits, 0) AS n_hits, first_rank,
        |    coalesce(dcg_micro, 0) AS dcg_micro
        |  FROM (SELECT DISTINCT query_id FROM hyb)
        |    LEFT JOIN nrel USING (query_id)
        |    LEFT JOIN perq USING (query_id))
        |SELECT query_id, CAST(n_rel AS BIGINT) AS n_rel,
        |  CAST(n_hits AS BIGINT) AS n_hits,
        |  CAST(coalesce(round(1000000.0 / first_rank), 0) AS BIGINT)
        |    AS mrr_micro,
        |  CAST(CASE WHEN n_rel = 0 THEN 0
        |    ELSE round(1000000.0 * n_hits / n_rel) END AS BIGINT)
        |    AS recall_micro,
        |  CAST(CASE WHEN n_rel = 0 OR n_hits = 0 THEN 0
        |    ELSE round(1000000.0 * dcg_micro / list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, least(n_rel, 10) + 1),
        |          i -> CAST(round(1000000.0 /
        |            log2(CAST(i AS DOUBLE) + 1.0)) AS BIGINT))),
        |      (a, b) -> a + b)) END AS BIGINT) AS ndcg_micro
        |FROM anch ORDER BY query_id""".stripMargin)),

    // ---- Weighted sampling without replacement (Efraimidis-
    // Spirakis): per-source quota of 20 docs sampled proportional to
    // a length-derived quality weight. The u-hash, ln-key and
    // micro-quantization all replay exactly in DuckDB.
    "p62_weighted_sample" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            (lit(1.0) + length(col("text")) / lit(1000.0)).as("wt"))
        Sampling.weightedSample(docs, "doc_id", "wt", 20, Seq("source"))
          .orderBy(col("source"), col("rnk"))
      },
      Some("""WITH w AS (SELECT doc_id, source,
        |    1.0 + length(text)/1000.0 AS wt,
        |    ((doc_id * 2654435761 + 40503) % 1000000007 + 0.5)/1000000007.0 AS u
        |  FROM documents),
        |sc AS (SELECT doc_id, source, CAST(round(1000000.0 * ln(u)/wt)
        |    AS BIGINT) AS key_micro FROM w),
        |r AS (SELECT source, doc_id, key_micro, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY key_micro DESC, doc_id)
        |    AS BIGINT) AS rnk FROM sc)
        |SELECT source, doc_id, key_micro, rnk FROM r
        |WHERE rnk <= 20 ORDER BY source, rnk""".stripMargin)),

    // ---- Fixed-iteration HITS importance over the (user, item)
    // engagement bipartite graph — integer-micro state with L-inf
    // normalization, so DuckDB replays all three rounds exactly.
    "p63_hits_importance" -> Q(
      (s, dir) => {
        val edges = tbl(s, dir, "events")
          .select(col("user_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
              .getField("k").as("item"))
          .filter(col("item").isNotNull)
        Graph.hitsMicro(edges, "user_id", "item", rounds = 3)
          .orderBy(col("item"))
      },
      Some("""WITH e AS (SELECT DISTINCT user_id AS s,
        |    CAST(props->>'k' AS BIGINT) AS d
        |  FROM events WHERE props->>'k' IS NOT NULL),
        |a0 AS (SELECT d, CAST(1000000 AS BIGINT) AS a
        |  FROM (SELECT DISTINCT d FROM e)),
        |h1 AS (SELECT s, CAST(sum(a) AS BIGINT) AS h
        |  FROM e JOIN a0 USING (d) GROUP BY s),
        |a1r AS (SELECT d, CAST(sum(h) AS BIGINT) AS ar
        |  FROM e JOIN h1 USING (s) GROUP BY d),
        |a1 AS (SELECT d, CAST(round(CAST(ar AS DOUBLE)*1000000.0 /
        |  (SELECT CAST(max(ar) AS DOUBLE) FROM a1r)) AS BIGINT) AS a
        |  FROM a1r),
        |h2 AS (SELECT s, CAST(sum(a) AS BIGINT) AS h
        |  FROM e JOIN a1 USING (d) GROUP BY s),
        |a2r AS (SELECT d, CAST(sum(h) AS BIGINT) AS ar
        |  FROM e JOIN h2 USING (s) GROUP BY d),
        |a2 AS (SELECT d, CAST(round(CAST(ar AS DOUBLE)*1000000.0 /
        |  (SELECT CAST(max(ar) AS DOUBLE) FROM a2r)) AS BIGINT) AS a
        |  FROM a2r),
        |h3 AS (SELECT s, CAST(sum(a) AS BIGINT) AS h
        |  FROM e JOIN a2 USING (d) GROUP BY s),
        |a3r AS (SELECT d, CAST(sum(h) AS BIGINT) AS ar
        |  FROM e JOIN h3 USING (s) GROUP BY d),
        |a3 AS (SELECT d, CAST(round(CAST(ar AS DOUBLE)*1000000.0 /
        |  (SELECT CAST(max(ar) AS DOUBLE) FROM a3r)) AS BIGINT) AS a
        |  FROM a3r),
        |deg AS (SELECT d, CAST(count(*) AS BIGINT) AS degree
        |  FROM e GROUP BY d)
        |SELECT a3.d AS item, a3.a AS auth_micro, deg.degree
        |FROM a3 JOIN deg USING (d) ORDER BY item""".stripMargin)),

    // ---- p64: PageRank over the user->item interaction graph ----
    // Integer fixed-point iteration (Graph.pageRankMicro scaladoc);
    // oracle is the 3-round unrolled CTE of the exact same Long
    // arithmetic: share = pr div out_degree, next = 150000 +
    // (incoming*85) div 100. User ids and item ids share one id
    // space here (a node may be both) — fine for a rank signal, and
    // both engines see the identical graph.
    "p64_pagerank" -> Q(
      (s, dir) => {
        val edges = tbl(s, dir, "events")
          .select(col("user_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
              .getField("k").as("item"))
          .filter(col("item").isNotNull)
        Graph.pageRankMicro(edges, "user_id", "item", rounds = 3)
          .orderBy(col("node"))
      },
      Some("""WITH ae AS (SELECT DISTINCT user_id AS s,
        |    CAST(props->>'k' AS BIGINT) AS d
        |  FROM events WHERE props->>'k' IS NOT NULL),
        |e AS (SELECT s, d FROM ae WHERE s <> d),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT s AS n FROM ae UNION ALL SELECT d FROM ae)),
        |od AS (SELECT s AS n, CAST(count(*) AS BIGINT) AS od
        |  FROM e GROUP BY s),
        |nd AS (SELECT n, coalesce(od, CAST(0 AS BIGINT)) AS od
        |  FROM nodes LEFT JOIN od USING (n)),
        |pr0 AS (SELECT n, CAST(1000000 AS BIGINT) AS pr FROM nd),
        |i1 AS (SELECT e.d AS n, CAST(sum(p.pr // nd.od) AS BIGINT) AS inc
        |  FROM e JOIN pr0 p ON p.n = e.s JOIN nd ON nd.n = e.s
        |  WHERE nd.od > 0 GROUP BY e.d),
        |pr1 AS (SELECT nd.n, CAST(150000 +
        |    (coalesce(i1.inc, 0) * 85) // 100 AS BIGINT) AS pr
        |  FROM nd LEFT JOIN i1 USING (n)),
        |i2 AS (SELECT e.d AS n, CAST(sum(p.pr // nd.od) AS BIGINT) AS inc
        |  FROM e JOIN pr1 p ON p.n = e.s JOIN nd ON nd.n = e.s
        |  WHERE nd.od > 0 GROUP BY e.d),
        |pr2 AS (SELECT nd.n, CAST(150000 +
        |    (coalesce(i2.inc, 0) * 85) // 100 AS BIGINT) AS pr
        |  FROM nd LEFT JOIN i2 USING (n)),
        |i3 AS (SELECT e.d AS n, CAST(sum(p.pr // nd.od) AS BIGINT) AS inc
        |  FROM e JOIN pr2 p ON p.n = e.s JOIN nd ON nd.n = e.s
        |  WHERE nd.od > 0 GROUP BY e.d),
        |pr3 AS (SELECT nd.n, CAST(150000 +
        |    (coalesce(i3.inc, 0) * 85) // 100 AS BIGINT) AS pr
        |  FROM nd LEFT JOIN i3 USING (n))
        |SELECT nd.n AS node, pr3.pr AS pr_micro, nd.od AS out_degree
        |FROM pr3 JOIN nd USING (n) ORDER BY node""".stripMargin)),

    // ---- p65: triangle counts on the co-ordered-parts graph ----
    // Co-occurrence graph: two parts are adjacent iff some order
    // contains both. Pair fan-out is C(lines-per-order, 2) — bounded
    // small per order — so the edge build is O(orders·k²), never
    // quadratic in parts; the count itself is Graph.triangleCounts'
    // degree-oriented wedge join (O(m^1.5), skew-safe). The oracle
    // replays the same triangle semantics declaratively: canonical
    // u<v edges, one (a<b<c orientation-free) join chain per
    // triangle, per-node explode. Triangle counts are a graph
    // invariant, so enumeration order differences are immaterial.
    "p65_triangles" -> Q(
      (s, dir) => {
        val pairs = Association.withinGroupPairs(
          tbl(s, dir, "lineitem")
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p")
        Graph.triangleCounts(pairs, "x", "y")
          .orderBy(col("node"))
      },
      Some("""WITH pe AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |und AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM pe a JOIN pe b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree FROM
        |  (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
        |  GROUP BY n),
        |tri AS (SELECT p1.u AS a, p1.v AS b, p2.v AS c
        |  FROM und p1 JOIN und p2 ON p1.u = p2.u AND p1.v < p2.v
        |  JOIN und p3 ON p3.u = p1.v AND p3.v = p2.v),
        |pern AS (SELECT n, CAST(count(*) AS BIGINT) AS nt FROM
        |  (SELECT a AS n FROM tri UNION ALL SELECT b AS n FROM tri
        |   UNION ALL SELECT c AS n FROM tri) GROUP BY n)
        |SELECT deg.n AS node, deg.degree,
        |  coalesce(pern.nt, CAST(0 AS BIGINT)) AS n_triangles
        |FROM deg LEFT JOIN pern USING (n) ORDER BY node""".stripMargin)),

    // ---- p66: the full production ANN tier — IVF coarse pruning +
    // PQ ADC + exact rerank (IVFADC, Jégou 2011 §IV). The ADC scan
    // touches only each query's nprobe/nlist of the corpus (vs p37's
    // flat scan); recall on THIS corpus (iid gaussian — the
    // clusterless worst case for a coarse quantizer) is ~0.53 vs
    // brute at nlist=16/nprobe=4, measured in OperatorSpec; real
    // embedding corpora cluster, which is what the tier exploits.
    // DuckDB replays centroids, cells, codes, LUTs, shortlist AND
    // rerank bit-for-bit.
    "p66_ann_ivfpq" -> Q(
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", 10, nlist = 16, nprobe = 4)
          .select(col("q_id"), col("neighbor_id"),
            round(col("score"), 4).as("score"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
        |n AS (SELECT vec_id, list_transform(raw, x ->
        |    x / sqrt(list_dot_product(raw, raw))) AS v FROM e),
        |s AS (SELECT vec_id, v FROM n
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
        |cbl AS (SELECT list(v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |  AS cb FROM s),
        |cent AS (SELECT v, row_number() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR)), vec_id) AS pos
        |  FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |cd AS (SELECT n.vec_id, c.pos,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, 65), dd ->
        |        (n.v[dd] - c.v[dd]) * (n.v[dd] - c.v[dd]))),
        |      (a, b) -> a + b) AS d
        |  FROM n, cent c),
        |ca AS (SELECT vec_id, pos AS cell FROM (
        |    SELECT vec_id, pos, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d ASC, pos ASC) AS rn FROM cd) WHERE rn = 1),
        |qcp AS (SELECT vec_id AS q_id, pos AS cell FROM (
        |    SELECT vec_id, pos, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d ASC, pos ASC) AS rn FROM cd
        |    WHERE vec_id % 100 = 0) WHERE rn <= 4),
        |dists AS (SELECT n.vec_id, t.mi,
        |    list_transform(range(1, 65), j ->
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 9), dd ->
        |          (n.v[t.mi*8+dd] - cbl.cb[j][t.mi*8+dd]) *
        |          (n.v[t.mi*8+dd] - cbl.cb[j][t.mi*8+dd]))),
        |        (a, b) -> a + b)) AS dl
        |  FROM n, range(0, 8) t(mi), cbl),
        |codel AS (SELECT vec_id,
        |    list(list_position(dl, list_min(dl)) ORDER BY mi) AS code
        |  FROM dists GROUP BY vec_id),
        |qlut AS (SELECT vec_id AS q_id, list(dl ORDER BY mi) AS lut
        |  FROM dists WHERE vec_id % 100 = 0 GROUP BY vec_id),
        |pqsc AS (SELECT q.q_id, ca.vec_id AS neighbor_id,
        |    -list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, 9), mi -> q.lut[mi][c.code[mi]])),
        |      (a, b) -> a + b) AS sc
        |  FROM qlut q JOIN qcp ON qcp.q_id = q.q_id
        |  JOIN ca ON ca.cell = qcp.cell
        |  JOIN codel c ON c.vec_id = ca.vec_id
        |  WHERE ca.vec_id <> q.q_id),
        |pqr AS (SELECT q_id, neighbor_id, sc, row_number() OVER (
        |    PARTITION BY q_id ORDER BY sc DESC, neighbor_id) AS srnk
        |  FROM pqsc),
        |short AS (SELECT q_id, neighbor_id FROM pqr WHERE srnk <= 100),
        |rer AS (SELECT s2.q_id, s2.neighbor_id,
        |    ${duckCos("qe.raw", "ne.raw")} AS sc2
        |  FROM short s2 JOIN e qe ON qe.vec_id = s2.q_id
        |  JOIN e ne ON ne.vec_id = s2.neighbor_id),
        |ranked AS (SELECT q_id, neighbor_id, sc2, row_number() OVER (
        |    PARTITION BY q_id ORDER BY sc2 DESC, neighbor_id) AS rnk
        |  FROM rer)
        |SELECT q_id, neighbor_id, round(sc2, 4) AS score, rnk
        |FROM ranked WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin)),

    // ---- p67: corpus-overlap estimation via KMV sketches — "how
    // much of snapshot B is already in snapshot A" WITHOUT the
    // corpus×corpus join. Two single scans reduce each corpus to 128
    // 8-byte hash minima; union/intersection/Jaccard come from O(k)
    // array arithmetic on two 1-row frames (Beyer et al., SIGMOD
    // 2007). Both id-sliced corpora exceed k at sf0.01+, so the
    // oracle exercises the genuine estimation path, not the
    // exact-small-set fallback. DuckDB replays the md5-60-bit hash,
    // the bottom-k order statistics and the single-IEEE-op estimates
    // bit-for-bit.
    "p67_corpus_overlap" -> Q(
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        Sketches.kmvOverlap(
            d.filter(col("doc_id") % 2 === 0),
            d.filter(col("doc_id") % 3 === 0), "text", k = 128)
          .select(round(col("est_distinct_a"), 4).as("est_distinct_a"),
            round(col("est_distinct_b"), 4).as("est_distinct_b"),
            round(col("est_union"), 4).as("est_union"),
            round(col("est_overlap"), 4).as("est_overlap"),
            round(col("jaccard"), 4).as("jaccard"))
      },
      Some("""WITH ah AS (SELECT DISTINCT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |bh AS (SELECT DISTINCT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |sa AS (SELECT list(h ORDER BY h) AS ha FROM
        |  (SELECT h FROM ah ORDER BY h LIMIT 128)),
        |sb AS (SELECT list(h ORDER BY h) AS hb FROM
        |  (SELECT h FROM bh ORDER BY h LIMIT 128)),
        |mg AS (SELECT ha, hb,
        |    list_sort(list_distinct(list_concat(ha, hb)))[1:128] AS m
        |  FROM sa, sb),
        |est AS (SELECT ha, hb, m,
        |    CASE WHEN len(ha) < 128 THEN CAST(len(ha) AS DOUBLE)
        |      ELSE (127 * 1152921504606846976.0) / CAST(ha[128] AS DOUBLE)
        |    END AS ea,
        |    CASE WHEN len(hb) < 128 THEN CAST(len(hb) AS DOUBLE)
        |      ELSE (127 * 1152921504606846976.0) / CAST(hb[128] AS DOUBLE)
        |    END AS eb,
        |    CASE WHEN len(m) < 128 THEN CAST(len(m) AS DOUBLE)
        |      ELSE (127 * 1152921504606846976.0) / CAST(m[128] AS DOUBLE)
        |    END AS eu,
        |    CAST(len(list_filter(m, x -> list_contains(ha, x)
        |      AND list_contains(hb, x))) AS DOUBLE)
        |      / CAST(len(m) AS DOUBLE) AS rho
        |  FROM mg)
        |SELECT round(ea, 4) AS est_distinct_a,
        |  round(eb, 4) AS est_distinct_b,
        |  round(eu, 4) AS est_union,
        |  round(rho * eu, 4) AS est_overlap,
        |  round(rho, 4) AS jaccard FROM est""".stripMargin)),

    // ---- p68: PMI collocations (Church & Hanks 1990) — the top-20
    // adjacent-token pairs by pointwise mutual information, the
    // phrase/multiword-expression miner. Selection ranks on the EXACT
    // ratio c_ab·N²/(n_pairs·c_a·c_b) (single IEEE ops over integer
    // doubles, mirrored operand-for-operand in the oracle) with a
    // portable-hash tie-break; the rounded ln is presentation only.
    // Presentation re-sorts the 20 survivors on output columns so row
    // order is engine-independent too.
    "p68_cooccur_pmi" -> Q(
      (s, dir) => TextAnalysis
        .pmiCollocations(tbl(s, dir, "documents"), "text", 20, 5L)
        .orderBy(col("pmi").desc, col("a"), col("b")),
      Some(s"""WITH tk AS (SELECT str_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM documents),
        |tot AS (SELECT CAST(sum(len(tk)) AS DOUBLE) AS n_tok,
        |    CAST(sum(greatest(len(tk)-1, 0)) AS DOUBLE) AS n_pairs FROM tk),
        |bg AS (SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),
        |    i -> {'a': tk[i], 'b': tk[i+1]})) AS p FROM tk),
        |cab AS (SELECT p.a AS a, p.b AS b, count(*) AS c_ab FROM bg
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |uni AS (SELECT unnest(tk) AS token FROM tk),
        |ucnt AS (SELECT token, count(*) AS c FROM uni GROUP BY 1),
        |scored AS (SELECT a, b, c_ab, ca.c AS c_a, cb.c AS c_b,
        |    (CAST(c_ab AS DOUBLE) * n_tok * n_tok) /
        |      (n_pairs * CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
        |      AS ratio,
        |    ${oPoly60("(a || ' ' || b)")} AS ph
        |  FROM cab JOIN ucnt ca ON ca.token = cab.a
        |  JOIN ucnt cb ON cb.token = cab.b, tot),
        |rk AS (SELECT *, row_number() OVER (ORDER BY ratio DESC, ph)
        |    AS rn FROM scored)
        |SELECT a, b, c_ab, c_a, c_b, round(ln(ratio), 4) AS pmi
        |FROM rk WHERE rn <= 20 ORDER BY pmi DESC, a, b""".stripMargin)),

    // ---- p69: association rules over order baskets (Agrawal-Srikant
    // support/confidence + lift) — "parts bought together", top-20 by
    // lift. Pair fan-out is C(basket,2) per order with a maxBasket
    // skew guard; lift ranks on the exact IEEE double with an
    // (antecedent, consequent) tie-break, both rule directions
    // emitted. Presentation re-sorts survivors on output columns.
    "p69_assoc_rules" -> Q(
      (s, dir) => Association
        .rulesTopK(tbl(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          20, 2L)
        .orderBy(col("lift").desc, col("antecedent"), col("consequent")),
      Some("""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |sized AS (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 1000),
        |items AS (SELECT bi.bk, bi.it FROM bi JOIN sized USING (bk)),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) AS n_baskets FROM sized),
        |supp AS (SELECT it, count(*) AS c_it FROM items GROUP BY 1),
        |pairs AS (SELECT x.it AS ia, y.it AS ib, count(*) AS c_pair
        |  FROM items x JOIN items y ON x.bk = y.bk AND x.it < y.it
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |scored AS (SELECT ia, ib, c_pair, sa.c_it AS c_ia,
        |    sb.c_it AS c_ib,
        |    (CAST(c_pair AS DOUBLE) * n_baskets) /
        |      (CAST(sa.c_it AS DOUBLE) * CAST(sb.c_it AS DOUBLE))
        |      AS lift_raw
        |  FROM pairs JOIN supp sa ON sa.it = pairs.ia
        |  JOIN supp sb ON sb.it = pairs.ib, nb),
        |rules AS (SELECT ia AS antecedent, ib AS consequent, c_pair,
        |    c_ia AS n_ante, c_ib AS n_cons, lift_raw FROM scored
        |  UNION ALL SELECT ib, ia, c_pair, c_ib, c_ia, lift_raw
        |  FROM scored),
        |rk AS (SELECT *, row_number() OVER (ORDER BY lift_raw DESC,
        |    antecedent, consequent) AS rn FROM rules)
        |SELECT antecedent, consequent, c_pair AS n_pair, n_ante, n_cons,
        |  round(CAST(c_pair AS DOUBLE) / CAST(n_ante AS DOUBLE), 4)
        |    AS confidence,
        |  round(lift_raw, 4) AS lift
        |FROM rk WHERE rn <= 20
        |ORDER BY lift DESC, antecedent, consequent""".stripMargin)),

    // ---- p70: corpus scaling-law diagnostics — Zipf slope over the
    // top-100 token ranks + Heaps vocabulary-growth exponent across
    // documents, the two power-law fits a corpus-health dashboard
    // watches. Every OLS input quantizes to integer micro-nats before
    // summation (Zipf sums are longs — 100 bounded points; Heaps sums
    // ride decimal(38,0) ↔ DuckDB HUGEINT — corpus-sized), so the
    // regression is exact integer arithmetic plus single mirrored
    // IEEE divisions.
    "p70_scaling_laws" -> Q(
      (s, dir) => TextAnalysis
        .corpusScalingLaws(tbl(s, dir, "documents"), "text", topR = 100),
      Some(s"""WITH tk AS (SELECT str_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM
        |  (SELECT unnest(tk) AS token FROM tk) GROUP BY 1),
        |rkd AS (SELECT c, row_number() OVER (ORDER BY c DESC, th) AS rnk
        |  FROM (SELECT c, ${oPoly60("token")} AS th FROM cnt)),
        |zp AS (SELECT
        |    CAST(round(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS xm,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS ym
        |  FROM rkd WHERE rnk <= 100),
        |z AS (SELECT CAST(count(*) AS HUGEINT) AS zn, sum(xm) AS zsx,
        |    sum(ym) AS zsy, sum(xm*xm) AS zsxx, sum(xm*ym) AS zsxy
        |  FROM zp),
        |hp AS (SELECT
        |    CAST(round(ln(CAST(len(tk) AS DOUBLE)) * 1e6) AS BIGINT) AS xm,
        |    CAST(round(ln(CAST(len(list_distinct(tk)) AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS ym
        |  FROM tk WHERE len(tk) >= 1 AND len(list_distinct(tk)) >= 1),
        |h AS (SELECT CAST(count(*) AS HUGEINT) AS hn, sum(xm) AS hsx,
        |    sum(ym) AS hsy, sum(xm*xm) AS hsxx, sum(xm*ym) AS hsxy
        |  FROM hp)
        |SELECT CAST(zn AS BIGINT) AS n_top,
        |  round(CAST(zn*zsxy - zsx*zsy AS DOUBLE) /
        |    CAST(zn*zsxx - zsx*zsx AS DOUBLE), 6) AS zipf_slope,
        |  round(CAST(zsxx*zsy - zsx*zsxy AS DOUBLE) /
        |    CAST(zn*zsxx - zsx*zsx AS DOUBLE) / 1e6, 6) AS zipf_intercept,
        |  CAST(hn AS BIGINT) AS n_docs,
        |  round(CAST(hn*hsxy - hsx*hsy AS DOUBLE) /
        |    CAST(hn*hsxx - hsx*hsx AS DOUBLE), 6) AS heaps_beta,
        |  round(CAST(hsxx*hsy - hsx*hsxy AS DOUBLE) /
        |    CAST(hn*hsxx - hsx*hsx AS DOUBLE) / 1e6, 6) AS heaps_lnk
        |FROM z, h""".stripMargin)),

    // ---- p71: quality-aware dedup — the end-of-pipeline policy that
    // keeps the LONGEST member of each near-dup cluster (ties to the
    // smaller id) instead of p27's keep-min-id. Same mine→verify→
    // contract machinery (portable MinHash banding, exact Jaccard,
    // O(log n) star contraction); the representative argmax is a
    // partial-combined struct-min aggregate, never a window. DuckDB
    // replays the full chain: banding, Jaccard, recursive-CTE
    // components, then the keep-longest pick.
    "p71_cluster_rep" -> Q(
      (s, dir) => Dedup.keepBestPerCluster(
          tbl(s, dir, "documents"), "doc_id", "text", minJac = 0.5)
        .orderBy(col("doc_id")),
      Some {
        s"""WITH $duckMinhashCand,
          |$duckCandJaccard,
          |edges0 AS (SELECT a_id, b_id FROM jac WHERE jac >= 0.5),
          |edges AS (SELECT a_id, b_id FROM edges0
          |  UNION SELECT b_id, a_id FROM edges0),
          |rec AS (
          |  WITH RECURSIVE reach(src, dst) AS (
          |    SELECT a_id AS src, a_id AS dst FROM edges
          |    UNION
          |    SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst)
          |  SELECT src, min(dst) AS cluster_id FROM reach GROUP BY src),
          |tok AS (SELECT doc_id,
          |    CAST(len(str_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
          |      AS n_tokens FROM documents),
          |wc AS (SELECT tok.doc_id, tok.n_tokens,
          |    coalesce(rec.cluster_id, tok.doc_id) AS cluster_id
          |  FROM tok LEFT JOIN rec ON rec.src = tok.doc_id),
          |rep AS (SELECT doc_id, cluster_id, n_tokens,
          |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
          |    row_number() OVER (PARTITION BY cluster_id
          |      ORDER BY n_tokens DESC, doc_id) AS rn
          |  FROM wc)
          |SELECT doc_id, cluster_id,
          |  CAST(cluster_size AS BIGINT) AS cluster_size, n_tokens,
          |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
          |FROM rep ORDER BY doc_id""".stripMargin
      }),

    // ---- p72: containment mining — asymmetric |A∩B|/|A| over the
    // LSH candidates, the quote/near-superset detector (low Jaccard,
    // high one-sided containment). Containment dominates Jaccard, so
    // the miner's recall floor carries over; pairs with max
    // containment ≥ 0.8 survive. Exact integer set sizes, divisions
    // mirrored operand-for-operand.
    "p72_containment" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val cand = Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
        Dedup.overlapForPairs(cand, docs, "doc_id", "text")
          .filter(greatest(col("containment_a"), col("containment_b"))
            >= 0.8)
          .select(col("a_id"), col("b_id"), col("n_inter"), col("a_n"),
            col("b_n"), round(col("containment_a"), 4).as("containment_a"),
            round(col("containment_b"), 4).as("containment_b"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some {
        s"""WITH $duckMinhashCand,
          |ov AS (SELECT c.a_id, c.b_id,
          |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_inter,
          |    CAST(len(sa.sh) AS BIGINT) AS a_n,
          |    CAST(len(sb.sh) AS BIGINT) AS b_n
          |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
          |  JOIN sh sb ON sb.doc_id = c.b_id)
          |SELECT a_id, b_id, n_inter, a_n, b_n,
          |  round(CAST(n_inter AS DOUBLE) / CAST(a_n AS DOUBLE), 4)
          |    AS containment_a,
          |  round(CAST(n_inter AS DOUBLE) / CAST(b_n AS DOUBLE), 4)
          |    AS containment_b
          |FROM ov
          |WHERE greatest(CAST(n_inter AS DOUBLE) / CAST(a_n AS DOUBLE),
          |  CAST(n_inter AS DOUBLE) / CAST(b_n AS DOUBLE)) >= 0.8
          |ORDER BY a_id, b_id""".stripMargin
      }),

    // ---- p73: group-aware train/val/test split — the split is a
    // pure function of the SOURCE key, so same-origin documents land
    // in one split by construction (the structural leakage cure
    // per-doc hashing can't give). One narrow codegen'd column; the
    // audit rolls up docs/sources/chars per split.
    "p73_grouped_split" -> Q(
      (s, dir) => Curation
        .groupedSplit(tbl(s, dir, "documents"), "source")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split")),
      Some(s"""WITH b AS (SELECT source, n_chars,
        |    ${QueryUtil.oPoly("source", 31L, 1000000007L)} % 100 AS bk
        |  FROM documents)
        |SELECT CASE WHEN bk < 80 THEN 'train'
        |    WHEN bk < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin)),

    // ---- p74: multi-source BFS reachability — the recursive-query
    // capability (SQL WITH RECURSIVE, which Spark lacks) as a
    // frontier iteration with per-level visited-set dedup. The
    // interaction graph is sparsified ((7s+d) mod 13 < 2) so the
    // BFS actually runs deep (hops 0-3 at sf0.01) instead of
    // saturating in one round; seeds are the id ≡ 0 (mod 53) nodes.
    // The DuckDB oracle IS a recursive CTE over the identical edge
    // set — min(h) over the recursion equals the BFS level by
    // level-order induction.
    "p74_reachability" -> Q(
      (s, dir) => {
        val raw = tbl(s, dir, "events")
          .select(col("user_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
              .getField("k").as("item"))
          .filter(col("item").isNotNull)
          .filter((col("user_id") * 7 + col("item")) % 13 < 2)
        val nodes = raw.select(col("user_id").as("n"))
          .union(raw.select(col("item").as("n"))).distinct()
        Graph.reachability(raw, "user_id", "item",
            nodes.filter(col("n") % 53 === 0), "n", maxHops = 4)
          .orderBy(col("node"))
      },
      Some("""WITH RECURSIVE ae AS (SELECT DISTINCT user_id AS s,
        |    CAST(props->>'k' AS BIGINT) AS d
        |  FROM events WHERE props->>'k' IS NOT NULL
        |    AND (user_id * 7 + CAST(props->>'k' AS BIGINT)) % 13 < 2),
        |e AS (SELECT s, d FROM ae WHERE s <> d),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT s AS n FROM ae UNION ALL SELECT d FROM ae)),
        |r AS (
        |  SELECT n, CAST(0 AS BIGINT) AS h FROM nodes WHERE n % 53 = 0
        |  UNION
        |  SELECT e.d AS n, r.h + 1 AS h FROM r JOIN e ON e.s = r.n
        |  WHERE r.h < 4
        |)
        |SELECT n AS node, min(h) AS hops FROM r GROUP BY n
        |ORDER BY node""".stripMargin)),

    // ---- p75: k-core peel of the co-ordered-parts graph — the
    // graph-curation gate that strips low-connectivity periphery
    // (drive-by links, single-interaction nodes) while the dense
    // core survives. Fixed 4 peel rounds keep the trajectory
    // engine-replayable; k=64 sits above the graph's minimum degree
    // at every SF (the co-occurrence density is scale-stable), so
    // the peel genuinely removes rows each round. The oracle unrolls
    // the identical 4 rounds; its CTEs are MATERIALIZED because each
    // round references its predecessor three times — inlined, the
    // expression tree is 3^rounds copies of the base join.
    "p75_kcore" -> Q(
      (s, dir) => {
        val pairs = Association.withinGroupPairs(
          tbl(s, dir, "lineitem")
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p")
        Graph.withAdjacency(pairs, "x", "y")(
            Graph.kCorePeel(_, k = 64, rounds = 4))
          .orderBy(col("node"))
      },
      Some("""WITH pe AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM pe a JOIN pe b ON a.o = b.o AND a.p < b.p),
        |d1 AS MATERIALIZED (SELECT n, count(*) AS dg FROM (SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0) GROUP BY n),
        |k1 AS MATERIALIZED (SELECT n FROM d1 WHERE dg >= 64),
        |e1 AS MATERIALIZED (SELECT e0.u, e0.v FROM e0 JOIN k1 a ON a.n = e0.u JOIN k1 b ON b.n = e0.v),
        |d2 AS MATERIALIZED (SELECT n, count(*) AS dg FROM (SELECT u AS n FROM e1 UNION ALL SELECT v AS n FROM e1) GROUP BY n),
        |k2 AS MATERIALIZED (SELECT n FROM d2 WHERE dg >= 64),
        |e2 AS MATERIALIZED (SELECT e1.u, e1.v FROM e1 JOIN k2 a ON a.n = e1.u JOIN k2 b ON b.n = e1.v),
        |d3 AS MATERIALIZED (SELECT n, count(*) AS dg FROM (SELECT u AS n FROM e2 UNION ALL SELECT v AS n FROM e2) GROUP BY n),
        |k3 AS MATERIALIZED (SELECT n FROM d3 WHERE dg >= 64),
        |e3 AS MATERIALIZED (SELECT e2.u, e2.v FROM e2 JOIN k3 a ON a.n = e2.u JOIN k3 b ON b.n = e2.v),
        |d4 AS MATERIALIZED (SELECT n, count(*) AS dg FROM (SELECT u AS n FROM e3 UNION ALL SELECT v AS n FROM e3) GROUP BY n),
        |k4 AS MATERIALIZED (SELECT n FROM d4 WHERE dg >= 64),
        |e4 AS MATERIALIZED (SELECT e3.u, e3.v FROM e3 JOIN k4 a ON a.n = e3.u JOIN k4 b ON b.n = e3.v)
        |SELECT n AS node, CAST(count(*) AS BIGINT) AS degree
        |FROM (SELECT u AS n FROM e4 UNION ALL SELECT v AS n FROM e4)
        |GROUP BY n ORDER BY node""".stripMargin)),

    // ---- p76: count-min sketch frequency estimates vs exact counts
    // for the 20 heaviest event users. w=32 is deliberately tight
    // (150 distinct keys at sf0.01) so the one-sided collision error
    // is actually exercised — every estimate here overshoots and the
    // min-over-rows genuinely selects; production widths make the
    // same cells near-exact. The d·w counter table is ONE
    // partial-combined aggregate and merges cell-wise — the
    // mergeable-summary scale contract.
    "p76_countmin" -> Q(
      (s, dir) => graft.operators.Sketches
        .countMinTopK(tbl(s, dir, "events"), "user_id",
          w = 32, d = 4, topK = 20)
        .orderBy(col("true_count").desc, col("key")),
      Some("""WITH k AS (SELECT user_id AS kk FROM events),
        |cells AS (SELECT 0 AS r, ((1103515245 * (kk % 2147483647) + 12345) % 2147483647) % 32 AS b FROM k
        |  UNION ALL SELECT 1, ((22695477 * (kk % 2147483647) + 1) % 2147483647) % 32 FROM k
        |  UNION ALL SELECT 2, ((69069 * (kk % 2147483647) + 362437) % 2147483647) % 32 FROM k
        |  UNION ALL SELECT 3, ((1664525 * (kk % 2147483647) + 1013904223) % 2147483647) % 32 FROM k),
        |cc AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cells GROUP BY 1, 2),
        |ex AS (SELECT kk, CAST(count(*) AS BIGINT) AS true_count
        |  FROM k GROUP BY 1 ORDER BY true_count DESC, kk LIMIT 20),
        |pr AS (SELECT kk, true_count, 0 AS r, ((1103515245 * (kk % 2147483647) + 12345) % 2147483647) % 32 AS b FROM ex
        |  UNION ALL SELECT kk, true_count, 1, ((22695477 * (kk % 2147483647) + 1) % 2147483647) % 32 FROM ex
        |  UNION ALL SELECT kk, true_count, 2, ((69069 * (kk % 2147483647) + 362437) % 2147483647) % 32 FROM ex
        |  UNION ALL SELECT kk, true_count, 3, ((1664525 * (kk % 2147483647) + 1013904223) % 2147483647) % 32 FROM ex)
        |SELECT pr.kk AS key, pr.true_count, min(cc.cnt) AS est_count
        |FROM pr JOIN cc ON cc.r = pr.r AND cc.b = pr.b
        |GROUP BY pr.kk, pr.true_count
        |ORDER BY true_count DESC, key""".stripMargin)),

    // ---- p77: skip-gram co-occurrence (window 3) — the word2vec/
    // GloVe context builder, generalizing p68's adjacent bigrams to
    // the window embedding training consumes. Pairs are generated
    // map-side inside one nested codegen transform (no positional
    // self-join); counts are exact integers so ranking is
    // engine-independent with the (cnt desc, a, b) total order.
    "p77_skipgram" -> Q(
      (s, dir) => graft.operators.TextAnalysis
        .skipgramTopK(tbl(s, dir, "documents"), "text",
          window = 3, k = 20, minCount = 5L),
      Some(s"""WITH tk AS (SELECT str_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM documents),
        |bg AS (SELECT unnest(flatten(list_transform(
        |    range(1, greatest(len(tk), 1)), i ->
        |    list_transform(range(i + 1, least(i + 3, len(tk)) + 1), j ->
        |      {'a': tk[i], 'b': tk[j]})))) AS p FROM tk),
        |c AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT a, b, cnt FROM c ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin)),

    // ---- p78: scalar-quantization fidelity gate — per-tensor
    // symmetric int4 (levels=7; int8 is recall 1.0 on this corpus,
    // i.e. signal-free) scored as end-to-end top-10 ranking recall
    // against the exact-cosine baseline, both rankings from ONE
    // corpus scan carrying two bounded top-k heaps. The query set is
    // a FIXED-SIZE deterministic sample (md5-order limit 100), not a
    // corpus fraction — recall estimation error depends on the query
    // COUNT, not the query fraction, and a fixed count keeps the
    // O(queries·corpus) exact baseline LINEAR in corpus size (a %-of-
    // corpus query set made the report quadratic: 229× wall at 100×,
    // BENCH_NOTES r12). DuckDB replays sample, scale, codes,
    // dequantization and both rankings bit-for-bit.
    "p78_quant_recall" -> Q(
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        graft.operators.Similarity.quantRecall(e,
            e.orderBy(md5(col("vec_id").cast("string"))).limit(100),
            "vec_id", "embedding", 10, levels = 7)
          .orderBy(col("q_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT max(list_aggregate(list_transform(v, x -> abs(x)), 'max')) AS s FROM e),
        |cq AS (SELECT vec_id,
        |    list_transform(v, x -> round(x * 7.0 / s) * s / 7.0) AS vq
        |  FROM e, s),
        |q AS (SELECT vec_id, v FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 100),
        |se AS (SELECT q.vec_id AS q_id, e.vec_id AS nid,
        |    ${duckCos("q.v", "e.v")} AS sc
        |  FROM q JOIN e ON e.vec_id <> q.vec_id),
        |re AS (SELECT q_id, nid, row_number() OVER
        |    (PARTITION BY q_id ORDER BY sc DESC, nid) AS rnk FROM se),
        |sq AS (SELECT q.vec_id AS q_id, cq.vec_id AS nid,
        |    ${duckCos("q.v", "cq.vq")} AS sc
        |  FROM q JOIN cq ON cq.vec_id <> q.vec_id),
        |rq AS (SELECT q_id, nid, row_number() OVER
        |    (PARTITION BY q_id ORDER BY sc DESC, nid) AS rnk FROM sq),
        |ov AS (SELECT a.q_id, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM (SELECT q_id, nid FROM re WHERE rnk <= 10) a
        |  JOIN (SELECT q_id, nid FROM rq WHERE rnk <= 10) b USING (q_id, nid)
        |  GROUP BY a.q_id)
        |SELECT q.vec_id AS q_id,
        |  coalesce(ov.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
        |  round(coalesce(ov.n_overlap, 0) / 10.0, 4) AS recall
        |FROM q LEFT JOIN ov ON ov.q_id = q.vec_id ORDER BY q_id""".stripMargin)),

    // ---- p79: margin calibration of the p52 quality classifier —
    // the reliability table (per fixed-width score bin: size,
    // positive rate, mean margin) that decides whether a classifier
    // margin is usable as a sampling weight. Fixed bin edges, not
    // ntile: rank-based deciles would need a global total order for
    // a report fixed edges serve equally well. The oracle replays
    // the full integer perceptron training, then the same bins.
    "p79_calibration" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        Curation.calibrationReport(
          Curation.perceptronQuality(docs, "doc_id", "text",
            when(col("lang") === "en", 1L).otherwise(-1L),
            buckets = 16, rounds = 3),
          "score", "y", binWidth = 8192L)
      },
      Some {
        s"""WITH $duckPerceptron,
          |bb AS (SELECT CAST(floor(dot / 8192.0) AS BIGINT) AS bin, y, dot
          |  FROM fin),
          |ag AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          |    CAST(sum(dot) AS BIGINT) AS ssum
          |  FROM bb GROUP BY bin)
          |SELECT bin, n_docs, n_pos,
          |  round(CAST(n_pos AS DOUBLE) / n_docs, 4) AS pos_rate,
          |  round(CAST(ssum AS DOUBLE) / n_docs, 4) AS mean_score
          |FROM ag ORDER BY bin""".stripMargin
      }),

    // ---- p80: per-document 8-gram novelty in corpus id order — the
    // diversity/memorization diagnostic: what fraction of each doc's
    // distinct grams is corpus-new (no earlier-id doc has them)?
    // First-occurrence attribution is the min-id rule; hashes come
    // from the codegen ShingleHashes pass and DuckDB recomputes each
    // from gram text (the p44 discipline).
    "p80_novelty" -> Q(
      (s, dir) => graft.operators.TextAnalysis
        .noveltyRate(tbl(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy(col("doc_id")),
      Some {
        s"""WITH tok AS (SELECT doc_id,
          |    str_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
          |g0 AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS gr
          |  FROM tok, unnest(range(1, len(tk) - 6)) t(i)),
          |g AS (SELECT DISTINCT doc_id,
          |    ${QueryUtil.oPoly("gr", 31L, 1000000007L)} AS gh FROM g0),
          |f AS (SELECT gh, min(doc_id) AS first_id FROM g GROUP BY 1)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          |  CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_novel,
          |  round(CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
          |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS novelty
          |FROM g JOIN f USING (gh) GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // ---- p81: per-cluster cohesion of the p30 k-means — member
    // count plus mean member-to-centroid cosine (the cosine inertia
    // analogue), the clustering-quality gate before SemDeDup/IVF
    // commit to a layout. Micro-quantized cosines make the mean an
    // integer sum with one replayable final divide; DuckDB replays
    // the full Lloyd run and the report.
    "p81_cluster_quality" -> Q(
      (s, dir) => graft.operators.Similarity
        .clusterQuality(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2)
        .orderBy(col("cell")),
      Some {
        s"""WITH $duckKmeansAsg,
          |qq AS (SELECT a.cell,
          |    CAST(round(${duckCos("e.v", "c1.cv")} * 1000000) AS BIGINT) AS cm
          |  FROM asg2 a JOIN e ON e.vec_id = a.vec_id
          |  JOIN c1 ON c1.cell = a.cell),
          |ag AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
          |    CAST(sum(cm) AS BIGINT) AS scm FROM qq GROUP BY cell)
          |SELECT cell, n_members,
          |  round(CAST(scm AS DOUBLE) / n_members / 1000000.0, 4) AS mean_cos
          |FROM ag ORDER BY cell""".stripMargin
      }),

    // ---- p82: incremental near-dup — a NEW batch (doc_id % 10 = 0)
    // mined against the existing INDEX (the rest), the daily-crawl-
    // increment shape: same LSH hash families on both sides so the
    // index's band table is append-only, and the bucket join is
    // new-vs-index ONLY (never new-vs-new, never index-vs-index).
    // Candidates verify by exact shingle Jaccard at tau = 0.5; the
    // oracle replays shingles, signatures, bands, the asymmetric
    // bucket join, and the verification bit-for-bit.
    "p82_incremental_neardup" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val cand = Dedup.minhashCandidatesIncremental(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        Dedup.jaccardForPairs(
            cand.select(col("new_id").as("a_id"), col("index_id").as("b_id")),
            docs, "doc_id", "text")
          .filter(col("jac") >= 0.5)
          .select(col("a_id").as("new_id"), col("b_id").as("index_id"),
            round(col("jac"), 4).as("jac"))
          .orderBy(col("new_id"), col("index_id"))
      },
      Some(s"""WITH $duckMinhashBands,
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |   AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
        |$duckCandJaccard
        |SELECT a_id AS new_id, b_id AS index_id, round(jac, 4) AS jac
        |FROM jac WHERE jac >= 0.5 ORDER BY new_id, index_id""".stripMargin)),

    // ---- p83: corpus-vs-corpus approximate top-k JOIN — the
    // alignment shape (new crawl vs curated set, distillation-pair
    // mining) where BOTH sides are large: IVF cells sampled md5-order
    // from the right side, right assigned to 1 cell, left probing 4,
    // and the cell match is a SHUFFLE hash join (nothing broadcast
    // but the centroids; pair space Σ|left_probe|·|right_cell|, never
    // |L|·|R|). nlist SCALES as √|right| (max 16) — the standard IVF
    // sizing, so per-left probe cost stays O(√N) as the corpus grows
    // (a fixed nlist measured 306× wall at 100×; √N cells restore the
    // sub-quadratic join). The oracle computes the same data-driven
    // nlist in its LIMIT and replays centroids, both assignments and
    // the per-left ranking bit-for-bit.
    "p83_ann_join" -> Q(
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        val right = e.filter(col("vec_id") % 2 === 1)
        val nlist = math.max(16L,
          math.ceil(math.sqrt(right.count().toDouble)).toLong).toInt
        graft.operators.Similarity.annJoin(
            e.filter(col("vec_id") % 2 === 0), right,
            "vec_id", "embedding", k = 3, nlist = nlist)
          .select(col("left_id"), col("right_id"),
            round(col("score"), 4).as("score"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("left_id"), col("rnk"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |r AS (SELECT vec_id AS right_id, v AS rv FROM e WHERE vec_id % 2 = 1),
        |l AS (SELECT vec_id AS left_id, v AS lv FROM e WHERE vec_id % 2 = 0),
        |cents AS (SELECT right_id AS cell, rv AS cv FROM r
        |  ORDER BY md5(CAST(right_id AS VARCHAR)), right_id
        |  LIMIT (SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM r)),
        |ra AS (SELECT r.right_id, r.rv, c.cell, row_number() OVER (
        |    PARTITION BY r.right_id
        |    ORDER BY ${duckCos("r.rv", "c.cv")} DESC, c.cell) AS rn
        |  FROM r CROSS JOIN cents c),
        |rc AS (SELECT right_id, rv, cell FROM ra WHERE rn = 1),
        |la AS (SELECT l.left_id, l.lv, c.cell, row_number() OVER (
        |    PARTITION BY l.left_id
        |    ORDER BY ${duckCos("l.lv", "c.cv")} DESC, c.cell) AS rn
        |  FROM l CROSS JOIN cents c),
        |lc AS (SELECT left_id, lv, cell FROM la WHERE rn <= 4),
        |scored AS (SELECT lc.left_id, rc.right_id,
        |    ${duckCos("lc.lv", "rc.rv")} AS s
        |  FROM lc JOIN rc USING (cell)),
        |ranked AS (SELECT left_id, right_id, s, row_number() OVER (
        |    PARTITION BY left_id ORDER BY s DESC, right_id) AS rnk
        |  FROM scored)
        |SELECT left_id, right_id, round(s, 4) AS score, rnk
        |FROM ranked WHERE rnk <= 3 ORDER BY left_id, rnk""".stripMargin)),

    // ---- p84: label-propagation communities over the co-purchase
    // graph — the cluster-discovery step beyond connected components
    // (components glue anything that touches; LPA separates dense
    // regions from incidental bridges). Synchronous, 3 fixed rounds,
    // fully deterministic: labels init to node ids, each round every
    // node takes the (count desc, label asc) argmax of its neighbor
    // labels — one struct-max aggregate, exact integer comparisons.
    // The oracle replays all three rounds; output is the per-label
    // community rollup.
    "p84_label_propagation" -> Q(
      (s, dir) => {
        val pairs = Association.withinGroupPairs(
          tbl(s, dir, "lineitem")
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p")
        Graph.withAdjacency(pairs, "x", "y")(
            Graph.labelPropagation(_, rounds = 3))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("size"), min(col("node")).as("min_node"))
          .orderBy(col("label"))
      },
      Some(s"""WITH $duckCoPurchaseLp3
        |SELECT l AS label, count(*) AS size, min(n) AS min_node
        |FROM l3 GROUP BY 1 ORDER BY label""".stripMargin)),

    // ---- rolling z-score anomaly gate over the event telemetry ----
    // Day-partitioned trailing window, integer z-test (cents), the
    // ingest-monitoring report. Window membership is (ts, event_id)-
    // deterministic and all arithmetic is Long, so the partitioned
    // Spark window and DuckDB's serial one agree bit-for-bit.
    "p85_rolling_anomaly" -> Q(
      (s, dir) => {
        val ev = tbl(s, dir, "events").select(
          col("event_type"), col("ts"), col("event_id"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
        graft.operators.Resample.rollingAnomalyReport(
          ev, "event_type", "ts", "event_id", "cents",
          window = 50, minN = 20, zThresh = 3)
      },
      Some("""WITH ev AS (SELECT event_type AS k, CAST(ts AS DATE) AS day,
        |    ts, event_id, CAST(ROUND(value*100) AS BIGINT) AS x FROM events),
        |st AS (SELECT k, x, COUNT(x) OVER w AS n,
        |    CAST(SUM(x) OVER w AS BIGINT) AS s,
        |    CAST(SUM(x*x) OVER w AS BIGINT) AS q
        |  FROM ev WINDOW w AS (PARTITION BY k, day ORDER BY ts, event_id
        |    ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)),
        |fl AS (SELECT k, x, (n >= 20) AS scored,
        |    (n >= 20 AND (n*x - s)*(n*x - s)*(n-1) > 9*n*(n*q - s*s)) AS anom
        |  FROM st)
        |SELECT k AS event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN scored THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
        |  CAST(SUM(CASE WHEN anom THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  CAST(COALESCE(SUM(CASE WHEN anom THEN x END), 0) AS BIGINT)
        |    AS sum_anom_value
        |FROM fl GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- Adamic-Adar link prediction over the co-purchase graph ----
    // Top-50 non-adjacent part pairs by Σ 1/ln(deg) over shared
    // neighbors (integer micro-weights), middles degree-capped at 64
    // — the candidate-generation step for recommendation /
    // retrieval-augmentation. The cap is part of the contract and
    // the oracle applies it identically.
    "p86_link_prediction" -> Q(
      (s, dir) => {
        val pairs = Association.withinGroupPairs(
          tbl(s, dir, "lineitem")
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p")
        Graph.withAdjacency(pairs, "x", "y")(
            Graph.adamicAdarTopK(_, maxDegree = 64, topK = 50))
      },
      Some("""WITH pe AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM pe a JOIN pe b ON a.o = b.o AND a.p < b.p),
        |nb AS MATERIALIZED (SELECT u AS n, v AS m FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT n, count(*) AS d FROM nb GROUP BY 1),
        |mid AS (SELECT n, CAST(ROUND(1e6/LN(d)) AS BIGINT) AS w
        |  FROM deg WHERE d BETWEEN 2 AND 64),
        |wg AS (SELECT a.m AS u, b.m AS v, mid.w FROM nb a
        |  JOIN nb b ON a.n = b.n AND a.m < b.m JOIN mid ON mid.n = a.n),
        |sc AS (SELECT u, v, COUNT(*) AS common_neighbors,
        |    CAST(SUM(w) AS BIGINT) AS aa_micro FROM wg GROUP BY 1, 2),
        |cand AS (SELECT sc.* FROM sc ANTI JOIN e0
        |  ON sc.u = e0.u AND sc.v = e0.v)
        |SELECT u, v, common_neighbors, aa_micro FROM cand
        |ORDER BY aa_micro DESC, u, v LIMIT 50""".stripMargin)),

    // ---- per-column ingest-audit profile of the orders table ----
    // Two jobs regardless of column count; doubles pre-projected to
    // cents and timestamps to dates so every rendered bound is
    // format-stable across engines.
    "p87_table_profile" -> Q(
      (s, dir) => {
        val src = tbl(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
            .as("price_cents"),
          to_date(col("o_orderdate")).as("order_day"))
        graft.operators.Profile.tableProfile(src)
      },
      Some("""WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_orderpriority,
        |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents,
        |    CAST(o_orderdate AS DATE) AS order_day FROM orders),
        |m AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(*)-COUNT(o_orderkey) AS n_null,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_repr,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_repr FROM src
        |  UNION ALL SELECT 'o_custkey', COUNT(*),
        |    COUNT(*)-COUNT(o_custkey), COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM src
        |  UNION ALL SELECT 'o_orderstatus', COUNT(*),
        |    COUNT(*)-COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
        |    MIN(o_orderstatus), MAX(o_orderstatus) FROM src
        |  UNION ALL SELECT 'o_orderpriority', COUNT(*),
        |    COUNT(*)-COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority),
        |    MIN(o_orderpriority), MAX(o_orderpriority) FROM src
        |  UNION ALL SELECT 'price_cents', COUNT(*),
        |    COUNT(*)-COUNT(price_cents), COUNT(DISTINCT price_cents),
        |    CAST(MIN(price_cents) AS VARCHAR),
        |    CAST(MAX(price_cents) AS VARCHAR) FROM src
        |  UNION ALL SELECT 'order_day', COUNT(*),
        |    COUNT(*)-COUNT(order_day), COUNT(DISTINCT order_day),
        |    CAST(MIN(order_day) AS VARCHAR),
        |    CAST(MAX(order_day) AS VARCHAR) FROM src)
        |SELECT col_name, n_rows, n_null, n_distinct, min_repr, max_repr
        |FROM m ORDER BY col_name""".stripMargin)),

    // ---- first-order Markov transitions over per-user event chains ----
    // Consecutive event-type steps within a 30-min gap, row-normalized
    // to integer-micro probabilities — the behavioral prior for
    // synthetic-traffic generation and funnel scoring.
    "p88_transition_matrix" -> Q(
      (s, dir) => Association.transitionMatrix(
        tbl(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        maxGapSeconds = 1800L),
      Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    LEAD(event_type) OVER w AS nt, LEAD(ts) OVER w AS nts
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT event_type AS from_state, nt AS to_state FROM e
        |  WHERE nt IS NOT NULL AND nts <= ts + INTERVAL 1800 SECONDS),
        |c AS (SELECT from_state, to_state, COUNT(*) AS n_transitions
        |  FROM p GROUP BY 1, 2),
        |t AS (SELECT from_state, CAST(SUM(n_transitions) AS BIGINT) AS tot
        |  FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, c.n_transitions,
        |  CAST(ROUND(1e6 * c.n_transitions / t.tot) AS BIGINT) AS prob_micro
        |FROM c JOIN t USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin)),

    // ---- PSI distribution drift between ingest windows ----
    // Per event type: population-stability index of the value (cents)
    // distribution, first half of the month (ref) vs second (cur),
    // 10 Long-exact bins over [0, 50000), per-bin terms quantized to
    // micros before the sum. Closes the monitoring trio with p85
    // (per-event anomalies) and p87 (per-column audit).
    "p89_psi_drift" -> Q(
      (s, dir) => Curation.psiDrift(
        tbl(s, dir, "events").select(col("event_type"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"),
          (dayofmonth(col("ts")) > 15).as("is_cur")),
        "event_type", "cents", "is_cur", bins = 10, lo = 0L, hi = 50000L),
      Some("""WITH ev AS (SELECT event_type AS k, (day(ts) > 15) AS cur,
        |    CAST(ROUND(value*100) AS BIGINT) AS x FROM events),
        |b AS (SELECT k, cur, least(9, greatest(0, (x - 0) * 10 // 50000)) AS b
        |  FROM ev),
        |c AS (SELECT k, b,
        |    CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS nr
        |  FROM b GROUP BY 1, 2),
        |spine AS (SELECT k, r.range AS b
        |  FROM (SELECT DISTINCT k FROM ev), range(0, 10) r),
        |f AS (SELECT spine.k, spine.b, COALESCE(c.nc, 0) AS nc,
        |    COALESCE(c.nr, 0) AS nr
        |  FROM spine LEFT JOIN c ON spine.k = c.k AND spine.b = c.b),
        |t AS (SELECT k, CAST(SUM(nr) AS BIGINT) AS tr,
        |    CAST(SUM(nc) AS BIGINT) AS tc FROM f GROUP BY 1),
        |terms AS (SELECT f.k, f.nr, f.nc,
        |    CAST(ROUND(1e6 * (
        |      (CAST(f.nr + 1 AS DOUBLE) / (t.tr + 10) -
        |       CAST(f.nc + 1 AS DOUBLE) / (t.tc + 10)) *
        |      LN((CAST(f.nr + 1 AS DOUBLE) / (t.tr + 10)) /
        |         (CAST(f.nc + 1 AS DOUBLE) / (t.tc + 10)))
        |    )) AS BIGINT) AS tm
        |  FROM f JOIN t USING (k))
        |SELECT k AS event_type, CAST(SUM(nr) AS BIGINT) AS n_ref,
        |  CAST(SUM(nc) AS BIGINT) AS n_cur,
        |  CAST(SUM(tm) AS BIGINT) AS psi_micro
        |FROM terms GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- dominant principal component by exact power iteration ----
    // Whitening prep (all-but-the-top): milli-quantized Gram over the
    // first 16 dims in one wide partial-combined aggregate, micro-
    // normalized, three integer matvec rounds — every stage replayed
    // bit-for-bit by the oracle's unrolled CTEs.
    "p90_pca_power" -> Q(
      (s, dir) => Similarity.topComponentMicro(
        tbl(s, dir, "embeddings"), "embedding", dim = 16,
        iters = 3, quantScale = 1000),
      Some("""WITH m AS (SELECT list_transform(range(1, 17),
        |    i -> CAST(ROUND(1000 * CAST(embedding[i] AS DOUBLE)) AS BIGINT)) AS mv
        |  FROM embeddings),
        |g AS (SELECT i.range AS i, j.range AS j,
        |    CAST(SUM(mv[i.range] * mv[j.range]) AS BIGINT) AS gv
        |  FROM m, range(1, 17) i, range(1, 17) j GROUP BY 1, 2),
        |mg AS (SELECT CAST(MAX(ABS(gv)) AS DOUBLE) AS m FROM g),
        |gn AS (SELECT i, j, CAST(ROUND(1e6 * (CAST(gv AS DOUBLE) /
        |    (SELECT m FROM mg))) AS BIGINT) AS gn FROM g),
        |v0 AS (SELECT range AS i, CAST(1000000 AS BIGINT) AS v FROM range(1, 17)),
        |w1 AS (SELECT gn.i, CAST(SUM(gn.gn * v0.v) AS BIGINT) AS w
        |  FROM gn JOIN v0 ON v0.i = gn.j GROUP BY 1),
        |m1 AS (SELECT CAST(MAX(ABS(w)) AS DOUBLE) AS m FROM w1),
        |v1 AS (SELECT i, CAST(ROUND(1e6 * (CAST(w AS DOUBLE) /
        |    (SELECT m FROM m1))) AS BIGINT) AS v FROM w1),
        |w2 AS (SELECT gn.i, CAST(SUM(gn.gn * v1.v) AS BIGINT) AS w
        |  FROM gn JOIN v1 ON v1.i = gn.j GROUP BY 1),
        |m2 AS (SELECT CAST(MAX(ABS(w)) AS DOUBLE) AS m FROM w2),
        |v2 AS (SELECT i, CAST(ROUND(1e6 * (CAST(w AS DOUBLE) /
        |    (SELECT m FROM m2))) AS BIGINT) AS v FROM w2),
        |w3 AS (SELECT gn.i, CAST(SUM(gn.gn * v2.v) AS BIGINT) AS w
        |  FROM gn JOIN v2 ON v2.i = gn.j GROUP BY 1),
        |m3 AS (SELECT CAST(MAX(ABS(w)) AS DOUBLE) AS m FROM w3),
        |v3 AS (SELECT i, CAST(ROUND(1e6 * (CAST(w AS DOUBLE) /
        |    (SELECT m FROM m3))) AS BIGINT) AS v FROM w3)
        |SELECT i AS component_idx, v AS v_micro FROM v3
        |ORDER BY component_idx""".stripMargin)),

    // ---- mergeable HLL sketch rollup: daily sketches, monthly union ----
    // The store-kilobytes-answer-any-window distinct pattern; gated
    // columns are the exact counts plus the union-estimate bound flag
    // (q42 discipline). sum_bucket_exact >> exact_total shows the
    // cross-day overlap a naive rollup would over-count.
    "p91_hll_rollup" -> Q(
      (s, dir) => Sketches.hllDistinctRollup(
        tbl(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id")),
        "day", "user_id", lgK = 12, pct = 0.06),
      Some("""SELECT
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_buckets,
        |  (SELECT CAST(SUM(c) AS BIGINT) FROM (
        |     SELECT COUNT(DISTINCT user_id) AS c FROM events
        |     GROUP BY CAST(ts AS DATE))) AS sum_bucket_exact,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_total,
        |  CAST(1 AS BIGINT) AS union_within_pct
        |FROM events""".stripMargin)),

    // ---- k-anonymity privacy audit over document metadata ----
    // After content scrubbing (p24), the metadata combination can
    // still re-identify: groups of (lang, source, length-bucket)
    // smaller than k=5 are at risk, reported per lang in exact ppm.
    "p92_k_anonymity" -> Q(
      (s, dir) => Curation.kAnonymityReport(
        tbl(s, dir, "documents").select(col("lang"), col("source"),
          expr("n_chars div 500").as("len_bucket")),
        Seq("lang", "source", "len_bucket"), k = 5, byCol = "lang"),
      Some("""WITH g AS (SELECT lang, source, n_chars // 500 AS len_bucket,
        |    COUNT(*) AS n FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_groups,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk,
        |  CAST(ROUND(1e6 * SUM(CASE WHEN n < 5 THEN n ELSE 0 END)
        |    / SUM(n)) AS BIGINT) AS risk_ppm
        |FROM g GROUP BY 1 ORDER BY lang""".stripMargin)),

    // ---- corpus snapshot diff: the daily-crawl delta report ----
    // v2 is derived deterministically from the corpus (drop %11,
    // mutate %7, add %13 under fresh negative ids) so both engines
    // classify the identical delta; the operator exchanges only
    // (id, digest), never content.
    "p93_snapshot_diff" -> Q(
      (s, dir) => {
        val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        val v2 = d.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .unionAll(d.filter(col("doc_id") % 13 === 0)
            .select((-col("doc_id") - 1).as("doc_id"),
              concat(lit("new "), col("text")).as("text")))
        Dedup.snapshotDiff(d, v2, "doc_id", "text")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM d WHERE doc_id % 11 <> 0
        |  UNION ALL SELECT -doc_id - 1, 'new ' || text FROM d
        |  WHERE doc_id % 13 = 0),
        |j AS (SELECT COALESCE(d.doc_id, v2.doc_id) AS id,
        |    CASE WHEN d.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN md5(d.text) <> md5(v2.text) THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM d FULL OUTER JOIN v2 ON d.doc_id = v2.doc_id)
        |SELECT status, COUNT(*) AS n, MIN(id) AS min_id, MAX(id) AS max_id
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin)),

    // ---- temperature-scaled multilingual sampling shares (T=2) ----
    // √-smoothed per-language mixture with expected draws and
    // epochs-over-the-tail under a 10k budget; √ is the one power
    // that is correctly rounded in IEEE-754, so the report replays
    // bit-for-bit across engines.
    "p94_temperature_mix" -> Q(
      (s, dir) => Sampling.sqrtTemperatureShares(
        tbl(s, dir, "documents").select(col("lang")), "lang", 10000L),
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents
        |  GROUP BY 1),
        |w AS (SELECT lang, n_docs,
        |    CAST(ROUND(1e6 * SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT)
        |      AS weight_micro FROM c),
        |t AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS tw FROM w),
        |e AS (SELECT lang, n_docs, weight_micro,
        |    CAST(ROUND(1e6 * (CAST(weight_micro AS DOUBLE) /
        |      CAST(tw AS DOUBLE))) AS BIGINT) AS share_micro,
        |    CAST(ROUND(10000 * (CAST(weight_micro AS DOUBLE) /
        |      CAST(tw AS DOUBLE))) AS BIGINT) AS expected_docs
        |  FROM w, t)
        |SELECT lang, n_docs, weight_micro, share_micro, expected_docs,
        |  CAST(ROUND(1e6 * (CAST(expected_docs AS DOUBLE) /
        |    CAST(n_docs AS DOUBLE))) AS BIGINT) AS epochs_micro
        |FROM e ORDER BY lang""".stripMargin)),

    // ---- all-pairs sparse TF-IDF cosine: paraphrase/template pairs ----
    // Exact lexical cosine over df-filtered milli-quantized TF-IDF
    // postings (Bayardo all-pairs with frequency pruning); the
    // lexical sibling of the dense ANN join and the exact complement
    // of MinHash banding.
    "p95_sparse_cosine" -> Q(
      (s, dir) => Retrieval.sparseCosineTopK(
        tbl(s, dir, "documents"), "doc_id", "text", dfCap = 500, k = 50),
      Some("""WITH tok AS (SELECT doc_id AS d, unnest(str_split_regex(
        |    trim(lower(text)), '\s+')) AS t FROM documents),
        |tf AS (SELECT d, t, count(*) AS n FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT t, count(*) AS dfc FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS N FROM documents),
        |post AS (SELECT tf.t, tf.d,
        |    CAST(ROUND(1e3 * (tf.n * LN((nn.N + 1.0) / (dfreq.dfc + 1.0))))
        |      AS BIGINT) AS w
        |  FROM tf JOIN dfreq ON dfreq.t = tf.t, nn
        |  WHERE dfreq.dfc BETWEEN 2 AND 500),
        |norms AS (SELECT d, CAST(SUM(w * w) AS BIGINT) AS ss
        |  FROM post GROUP BY 1),
        |pr AS (SELECT a.d AS a_id, b.d AS b_id,
        |    CAST(SUM(a.w * b.w) AS BIGINT) AS dot,
        |    COUNT(*) AS n_common_terms
        |  FROM post a JOIN post b ON a.t = b.t AND a.d < b.d GROUP BY 1, 2),
        |sc AS (SELECT pr.a_id, pr.b_id, pr.n_common_terms,
        |    CAST(ROUND(1e6 * (CAST(pr.dot AS DOUBLE) /
        |      (SQRT(CAST(na.ss AS DOUBLE)) * SQRT(CAST(nb.ss AS DOUBLE)))))
        |      AS BIGINT) AS cos_micro
        |  FROM pr JOIN norms na ON na.d = pr.a_id
        |  JOIN norms nb ON nb.d = pr.b_id
        |  WHERE na.ss > 0 AND nb.ss > 0)
        |SELECT a_id, b_id, n_common_terms, cos_micro FROM sc
        |ORDER BY cos_micro DESC, a_id, b_id LIMIT 50""".stripMargin)),

    // ---- p96: bounded-hop weighted shortest paths (Bellman-Ford
    // frontier relaxation) over the p74 interaction graph with
    // deterministic integer weights — the weighted recursive-query
    // capability. 4 rounds ≡ min path weight over ≤4 edges, which
    // the DuckDB recursive CTE replays verbatim (hop counter < 4,
    // min(dist) at the end).
    "p96_shortest_paths" -> Q(
      (s, dir) => {
        val raw = tbl(s, dir, "events")
          .select(col("user_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
              .getField("k").as("item"))
          .filter(col("item").isNotNull)
          .filter((col("user_id") * 7 + col("item")) % 13 < 2)
          .withColumn("w", lit(1) + (col("user_id") + lit(2) * col("item")) % 7)
        val nodes = raw.select(col("user_id").as("n"))
          .union(raw.select(col("item").as("n"))).distinct()
        Graph.shortestPaths(raw, "user_id", "item", "w",
            nodes.filter(col("n") % 53 === 0), "n", rounds = 4)
          .orderBy(col("node"))
      },
      Some("""WITH RECURSIVE ae AS (SELECT DISTINCT user_id AS s,
        |    CAST(props->>'k' AS BIGINT) AS d
        |  FROM events WHERE props->>'k' IS NOT NULL
        |    AND (user_id * 7 + CAST(props->>'k' AS BIGINT)) % 13 < 2),
        |e AS (SELECT s, d, 1 + (s + 2 * d) % 7 AS w FROM ae WHERE s <> d),
        |nodes AS (SELECT DISTINCT n FROM
        |  (SELECT s AS n FROM ae UNION ALL SELECT d FROM ae)),
        |r AS (
        |  SELECT n, CAST(0 AS BIGINT) AS dist, 0 AS h
        |  FROM nodes WHERE n % 53 = 0
        |  UNION
        |  SELECT e.d AS n, r.dist + e.w AS dist, r.h + 1 AS h
        |  FROM r JOIN e ON e.s = r.n WHERE r.h < 4
        |)
        |SELECT n AS node, min(dist) AS dist FROM r GROUP BY n
        |ORDER BY node""".stripMargin)),

    // ---- p97: blocked fuzzy record linkage — edit-distance pairs
    // within (first-word, size) blocks of the part catalog, the
    // entity-resolution step that catches single-typo variants exact
    // and shingle dedup both miss. The report is the per-distance
    // pair histogram (every surviving pair contributes, so the whole
    // pair set is hash-gated, not a sample). Block cap 200 drops
    // nothing at test SFs but bounds the worst-case cell at scale;
    // the companion oversized report is spec'd in OperatorSpec.
    "p97_fuzzy_link" -> Q(
      (s, dir) => {
        val part = s.read.parquet(s"$dir/part.parquet")
        graft.operators.Dedup.fuzzyLinkPairs(part, "p_partkey", "p_name",
            concat_ws("|", split(col("p_name"), " ").getItem(0),
              col("p_size").cast("string")),
            maxDist = 4, maxBlockSize = 200)
          .groupBy(col("dist"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("id_a")).as("min_a"), max(col("id_b")).as("max_b"))
          .orderBy(col("dist"))
      },
      Some("""WITH r AS (SELECT p_partkey AS id, p_name AS t,
        |    split_part(p_name, ' ', 1) || '|' || CAST(p_size AS VARCHAR) AS b
        |  FROM part),
        |bc AS (SELECT b FROM r GROUP BY b HAVING count(*) <= 200),
        |rr AS (SELECT r.* FROM r JOIN bc ON bc.b = r.b),
        |pr AS (SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(levenshtein(a.t, b.t) AS INT) AS dist
        |  FROM rr a JOIN rr b ON a.b = b.b AND a.id < b.id
        |  WHERE levenshtein(a.t, b.t) <= 4)
        |SELECT dist, count(*) AS n_pairs, min(id_a) AS min_a,
        |  max(id_b) AS max_b
        |FROM pr GROUP BY dist ORDER BY dist""".stripMargin)),

    // ---- p98: mergeable fixed-bin quantile rollup — the quantile
    // sibling of p91's HLL rollup: per-day bin-count vectors whose
    // bin-wise sum answers any window ('all' scope here), quantile
    // estimates as lower bin edges vs the exact order statistic,
    // everything integer (`div`) so the report replays bit-for-bit
    // cross-engine. p50/p90/p99 over event value cents, 64 bins.
    "p98_quantile_rollup" -> Q(
      (s, dir) => graft.operators.Sketches.binQuantileRollup(
        tbl(s, dir, "events").select(
          to_date(col("ts")).cast("string").as("day"),
          cents(col("value")).as("c")),
        "day", "c", bins = 64, lo = 0L, hi = 50000L,
        qsPpm = Seq(500000L, 900000L, 990000L)),
      Some("""WITH v AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS b,
        |    CAST(ROUND(value * 100) AS BIGINT) AS x FROM events),
        |bn AS (SELECT b, least(63, greatest(0, (x * 64) // 50000)) AS bin
        |  FROM v),
        |pb AS (SELECT b, bin, count(*) AS n FROM bn GROUP BY 1, 2),
        |cs AS (SELECT b AS scope, bin, n FROM pb
        |  UNION ALL SELECT 'all', bin, sum(n) FROM pb GROUP BY 2),
        |cum AS (SELECT scope, bin,
        |    sum(n) OVER (PARTITION BY scope ORDER BY bin) AS cum,
        |    sum(n) OVER (PARTITION BY scope) AS tot FROM cs),
        |q AS (SELECT CAST(unnest([500000, 900000, 990000]) AS BIGINT)
        |    AS q_ppm),
        |eb AS (SELECT scope, q_ppm, CAST(max(tot) AS BIGINT) AS n,
        |    min(bin) AS ebin
        |  FROM cum, q WHERE cum >= (tot * q_ppm + 999999) // 1000000
        |  GROUP BY 1, 2),
        |est AS (SELECT scope, q_ppm, n, (50000 * ebin) // 64 AS est
        |  FROM eb),
        |vv AS (SELECT b AS scope, x FROM v
        |  UNION ALL SELECT 'all', x FROM v),
        |vg AS (SELECT scope, x, count(*) AS n FROM vv GROUP BY 1, 2),
        |vc AS (SELECT scope, x,
        |    sum(n) OVER (PARTITION BY scope ORDER BY x) AS cum,
        |    sum(n) OVER (PARTITION BY scope) AS tot FROM vg),
        |ex AS (SELECT scope, q_ppm, min(x) AS exact
        |  FROM vc, q WHERE cum >= (tot * q_ppm + 999999) // 1000000
        |  GROUP BY 1, 2)
        |SELECT est.scope, est.q_ppm, est.n, est.est, ex.exact,
        |  abs(est.est - ex.exact) AS abs_err
        |FROM est JOIN ex ON ex.scope = est.scope AND ex.q_ppm = est.q_ppm
        |ORDER BY est.scope, est.q_ppm""".stripMargin)),

    // ---- p99: hard-negative mining for embedding-model training —
    // the DPR "BM25 negatives" practice (Karpukhin et al. 2020): the
    // top-ranked retrieved docs that are NOT same-source (and not the
    // query doc itself) become training negatives. The exclusion set
    // is built CANDIDATE-RESTRICTED: exclusion only matters where it
    // intersects the ranked list, so the pair frame is two hash joins
    // against the ≤ k·|queries| candidates — never the full
    // queries × same-source-docs cross product, which grows
    // quadratically when relevance is attribute-derived (measured
    // 208s → 43s at sf10 switching from the materialized pair set;
    // the residual is the BM25 retrieval itself with queries AND
    // corpus both 100×, the p59 cost class).
    // Semantically identical; the DuckDB oracle keeps the declarative
    // full-pair form.
    "p99_hard_negatives" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val queries = docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("query_id"),
            concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 5))
              .as("qtext"))
        val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
            queries, "query_id", "qtext", k = 20)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val exclude = lex.select(col("query_id"), col("doc_id"))
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .join(docs.filter(col("doc_id") % 100 === 0)
            .select(col("doc_id").as("query_id"),
              col("source").as("__qsrc")), Seq("query_id"))
          .filter(col("source") === col("__qsrc")) // self included: never a negative
          .select(col("query_id"), col("doc_id"))
        Retrieval.hardNegatives(lex, "query_id", "doc_id", "rnk",
            exclude, "query_id", "doc_id", nNeg = 5)
          .select(col("query_id"), col("neg_rnk"), col("doc_id"),
            col("score_micro"), col("rnk").cast("long").as("orig_rnk"))
          .orderBy(col("query_id"), col("neg_rnk"))
      },
      Some(s"""WITH $duckBm25,
        |ex AS (SELECT q.doc_id AS query_id, d.doc_id AS doc_id
        |  FROM documents q JOIN documents d USING (source)
        |  WHERE q.doc_id % 100 = 0),
        |neg AS (SELECT bm.query_id, bm.doc_id, bm.score_micro, bm.rnk
        |  FROM bm LEFT JOIN ex ON ex.query_id = bm.query_id
        |    AND ex.doc_id = bm.doc_id
        |  WHERE bm.rnk <= 20 AND ex.doc_id IS NULL),
        |rr AS (SELECT query_id, doc_id, score_micro, rnk,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rnk) AS BIGINT) AS neg_rnk
        |  FROM neg)
        |SELECT query_id, neg_rnk, doc_id, score_micro,
        |  CAST(rnk AS BIGINT) AS orig_rnk
        |FROM rr WHERE neg_rnk <= 5
        |ORDER BY query_id, neg_rnk""".stripMargin)),

    // ---- p100: behavioral traces → next-event training examples
    // (the sequential-recommendation data shape, SASRec): 30-min gap
    // sessions per user, each rendered as input = the session minus
    // its last event (truncated to the most recent 8 — the side a
    // causal model conditions on) and target = the last event. Token
    // strings are event_type:cents so both engines render
    // byte-identical text; ordering is µs + event_id everywhere.
    "p100_sft_examples" -> Q(
      (s, dir) => graft.operators.Curation.sessionExamples(
        tbl(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"),
          concat(col("event_type"), lit(":"),
            cents(col("value")).cast("string")).as("tok")),
        "user_id", "ts", "event_id", "tok",
        gapMs = 1800000L, maxContext = 8)
        .orderBy(col("user_id"), col("session_idx")),
      Some("""WITH o AS (SELECT user_id, ts, event_id,
        |    event_type || ':' ||
        |      CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) AS tok,
        |    epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s AS (SELECT user_id, ts, event_id, tok,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |      AS session_idx
        |  FROM o),
        |g AS (SELECT user_id, session_idx,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    list(tok ORDER BY ts, event_id) AS toks
        |  FROM s GROUP BY 1, 2),
        |t AS (SELECT user_id, session_idx, n_events,
        |    toks[greatest(1, CAST(n_events AS INTEGER) - 8):
        |      (CAST(n_events AS INTEGER) - 1)] AS ctx,
        |    toks[CAST(n_events AS INTEGER)] AS target
        |  FROM g WHERE n_events >= 2)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  n_events, CAST(len(ctx) AS BIGINT) AS n_context,
        |  array_to_string(ctx, ' ') AS input, target
        |FROM t ORDER BY user_id, session_idx""".stripMargin)),

    // ---- p101: DPO-style preference pairs — per user, best vs worst
    // purchase by exact cents, ties broken on event_id (max side high,
    // min side low), requiring >= 2 candidates and margin >= 1. One
    // partial-aggregable max_by/min_by groupBy; no windows, no joins.
    "p101_preference_pairs" -> Q(
      (s, dir) => graft.operators.Curation.preferencePairs(
        tbl(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            cents(col("value")).as("score_cents")),
        "user_id", "event_id", "score_cents", "event_id",
        minMargin = 1L)
        .orderBy(col("user_id")),
      Some("""WITH p AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS sc
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, sc,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY sc DESC, event_id DESC) AS rc,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY sc ASC, event_id ASC) AS rr,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM p)
        |SELECT ch.user_id, ch.event_id AS chosen,
        |  rj.event_id AS rejected, ch.sc AS chosen_score,
        |  rj.sc AS rejected_score, ch.sc - rj.sc AS margin,
        |  ch.n AS n_candidates
        |FROM (SELECT * FROM c WHERE rc = 1) ch
        |JOIN (SELECT * FROM c WHERE rr = 1) rj USING (user_id)
        |WHERE ch.n >= 2 AND ch.sc - rj.sc >= 1
        |ORDER BY user_id""".stripMargin)),

    // ---- p102: token-budget corpus selection — keep the
    // highest-quality prefix (stopword-ppm quality proxy, doc_id
    // tie-break) whose cumulative token count stays within 40% of the
    // corpus total. Global running sum via the two-pass bucket trick,
    // never a whole-corpus window; gate exact in integer ppm space.
    "p102_token_budget" -> Q(
      (s, dir) => {
        val tk = Dedup.tokens(col("text"))
        val stops = Seq("the", "a", "an", "and", "or", "of", "to",
          "in", "is", "it")
        val scored = tbl(s, dir, "documents").select(col("doc_id"),
            size(tk).cast("long").as("__n"),
            size(filter(tk, x => x.isin(stops: _*))).cast("long")
              .as("__stop"))
          .select(col("doc_id"),
            expr("CAST((1000000 * __stop) DIV __n AS BIGINT)").as("q"),
            col("__n").as("w"))
        graft.operators.Curation.budgetSelect(scored, "doc_id",
            col("q"), col("w"),
            expr("CAST((1000000 - qscore) DIV 3907 AS INT)"),
            budgetPpm = 400000L)
          .orderBy(col("sel_rank"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    str_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    (1000000 * CAST(len(list_filter(tk, x -> x IN
        |      ('the','a','an','and','or','of','to','in','is','it')))
        |      AS BIGINT)) // CAST(len(tk) AS BIGINT) AS qscore,
        |    CAST(len(tk) AS BIGINT) AS weight FROM t),
        |r AS (SELECT doc_id, qscore, weight,
        |    CAST(row_number() OVER (ORDER BY qscore DESC, doc_id)
        |      AS BIGINT) AS sel_rank,
        |    CAST(sum(weight) OVER (ORDER BY qscore DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight,
        |    CAST(sum(weight) OVER () AS BIGINT) AS total_weight
        |  FROM s)
        |SELECT doc_id, qscore, weight, sel_rank, cum_weight,
        |  total_weight
        |FROM r WHERE cum_weight * 1000000 <= total_weight * 400000
        |ORDER BY sel_rank""".stripMargin)),

    // ---- p103: length-bucketed training-batch assembly — power-of-2
    // length buckets (bit-length of the token count), batches of 32
    // within each bucket in (len, doc_id) order, per-batch padding
    // waste. Within-bucket ordinals via the (bucket, len) two-pass,
    // not a per-bucket window.
    "p103_length_batches" -> Q(
      (s, dir) => graft.operators.Curation.lengthBucketBatches(
        tbl(s, dir, "documents").select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", col("n_tokens"), batchSize = 32)
        .orderBy(col("len_bucket"), col("batch_idx")),
      Some("""WITH t AS (SELECT doc_id,
        |    CAST(len(str_split_regex(trim(lower(text)), '\s+'))
        |      AS BIGINT) AS ln FROM documents),
        |b AS (SELECT doc_id, ln,
        |    CAST(length(bin(ln)) AS INTEGER) AS bkt
        |  FROM t WHERE ln >= 1),
        |r AS (SELECT doc_id, ln, bkt, row_number() OVER
        |    (PARTITION BY bkt ORDER BY ln, doc_id) AS rn FROM b)
        |SELECT bkt AS len_bucket,
        |  CAST((rn - 1) // 32 AS BIGINT) AS batch_idx,
        |  CAST(count(*) AS BIGINT) AS n_seqs, max(ln) AS max_len,
        |  CAST(sum(ln) AS BIGINT) AS sum_len,
        |  CAST(count(*) AS BIGINT) * max(ln) -
        |    CAST(sum(ln) AS BIGINT) AS pad_tokens
        |FROM r GROUP BY 1, 2 ORDER BY len_bucket, batch_idx""".stripMargin)),

    // ---- p104: source-interleaved epoch ordering — md5-shuffled
    // within source, round-robin across sources; the per-source
    // ordinal rides the (source, md5-prefix) two-pass, the source
    // index is an |S|-row bounded window.
    "p104_epoch_order" -> Q(
      (s, dir) => Sampling.interleaveBySource(
        tbl(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source")
        .orderBy(col("interleave_pos")),
      Some("""WITH d AS (SELECT doc_id, source,
        |    md5(source || '|' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents),
        |si AS (SELECT source,
        |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) - 1
        |      AS sidx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM si),
        |r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY k, doc_id) AS BIGINT) AS src_ordinal
        |  FROM d)
        |SELECT r.doc_id, r.source, r.src_ordinal,
        |  (r.src_ordinal - 1) * s.ns + si.sidx AS interleave_pos
        |FROM r JOIN si USING (source) CROSS JOIN s
        |ORDER BY interleave_pos""".stripMargin)),

    // ---- p105: vocabulary OOV-rate report — corpus top-500 token
    // vocabulary (frequency-ranked, portable-hash tie-break), then
    // per-language out-of-vocabulary occurrence ppm.
    "p105_oov_rate" -> Q(
      (s, dir) => TextAnalysis.oovRate(
        tbl(s, dir, "documents"), "lang", "text", vocabSize = 500)
        .orderBy(col("lang")),
      Some(s"""WITH tok AS (SELECT lang, unnest(str_split_regex(
        |    trim(lower(text)), '\\s+')) AS token FROM documents),
        |counts AS (SELECT token, count(*) AS n_occ,
        |    ${oPoly60("token")} AS th
        |  FROM tok GROUP BY token),
        |vocab AS (SELECT token FROM counts
        |  ORDER BY n_occ DESC, th LIMIT 500)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_oov,
        |  (1000000 * CAST(sum(CASE WHEN v.token IS NULL THEN 1
        |    ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT)
        |    AS oov_ppm
        |FROM tok LEFT JOIN vocab v USING (token)
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- p106: cross-source overlap matrix — every source pair's
    // distinct/union/intersection/Jaccard estimates from per-source
    // KMV sketches (one corpus scan, bounded TopK heaps, |S|²
    // catalog-sized pair grid). k=16 < 25 distinct texts per source,
    // so the order-statistics estimation path is exercised, not just
    // the exact small-universe path.
    "p106_source_overlap" -> Q(
      (s, dir) => Sketches.kmvOverlapMatrix(
        tbl(s, dir, "documents"), "source", "text", k = 16)
        .select(col("group_a"), col("group_b"),
          round(col("est_distinct_a"), 4).as("est_distinct_a"),
          round(col("est_distinct_b"), 4).as("est_distinct_b"),
          round(col("est_union"), 4).as("est_union"),
          round(col("est_overlap"), 4).as("est_overlap"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("group_a"), col("group_b")),
      Some("""WITH h AS (SELECT DISTINCT source,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT source, h, row_number() OVER
        |    (PARTITION BY source ORDER BY h) AS rn FROM h),
        |sk AS (SELECT source, list(h ORDER BY h) AS hs
        |  FROM r WHERE rn <= 16 GROUP BY source),
        |pr AS (SELECT a.source AS group_a, b.source AS group_b,
        |    a.hs AS ha, b.hs AS hb
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |mg AS (SELECT group_a, group_b, ha, hb,
        |    list_sort(list_distinct(list_concat(ha, hb)))[1:16] AS m
        |  FROM pr),
        |est AS (SELECT group_a, group_b, ha, hb, m,
        |    CASE WHEN len(ha) < 16 THEN CAST(len(ha) AS DOUBLE)
        |      ELSE (15 * 1152921504606846976.0) / CAST(ha[16] AS DOUBLE)
        |    END AS ea,
        |    CASE WHEN len(hb) < 16 THEN CAST(len(hb) AS DOUBLE)
        |      ELSE (15 * 1152921504606846976.0) / CAST(hb[16] AS DOUBLE)
        |    END AS eb,
        |    CASE WHEN len(m) < 16 THEN CAST(len(m) AS DOUBLE)
        |      ELSE (15 * 1152921504606846976.0) / CAST(m[16] AS DOUBLE)
        |    END AS eu,
        |    CAST(len(list_filter(m, x -> list_contains(ha, x)
        |      AND list_contains(hb, x))) AS DOUBLE)
        |      / CAST(len(m) AS DOUBLE) AS rho
        |  FROM mg)
        |SELECT group_a, group_b, round(ea, 4) AS est_distinct_a,
        |  round(eb, 4) AS est_distinct_b, round(eu, 4) AS est_union,
        |  round(rho * eu, 4) AS est_overlap, round(rho, 4) AS jaccard
        |FROM est ORDER BY group_a, group_b""".stripMargin)),

    // ---- p107: T5 span corruption — 15% deterministic position
    // mask, contiguous runs → sentinels, (input, target) assembly.
    // The hash is pure (id, pos), so corruption is reproducible on
    // any layout; strings assemble from ordered (pos, piece) structs.
    "p107_span_corruption" -> Q(
      (s, dir) => graft.operators.Curation.spanCorruption(
        tbl(s, dir, "documents"), "doc_id", "text", noisePpm = 150000L)
        .orderBy(col("doc_id")),
      Some(s"""WITH tok AS (SELECT doc_id,
        |    str_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM documents),
        |pos AS (SELECT doc_id, i AS p, tk[i] AS t
        |  FROM tok, unnest(range(1, len(tk) + 1)) u(i)),
        |hp AS (SELECT doc_id,
        |    ${QueryUtil.oPoly60("CAST(doc_id AS VARCHAR)")}
        |      % 2147483647 AS h
        |  FROM documents),
        |m0 AS (SELECT doc_id, p, t,
        |    CASE WHEN ((1103515245 * ((h + p * 1013904223)
        |        % 2147483647) + 12345) % 2147483647) % 1000000
        |      < 150000 THEN 1 ELSE 0 END AS m
        |  FROM pos JOIN hp USING (doc_id)),
        |w AS (SELECT doc_id, p, t, m,
        |    CASE WHEN m = 1 AND coalesce(lag(m) OVER (
        |      PARTITION BY doc_id ORDER BY p), 0) = 0
        |    THEN 1 ELSE 0 END AS st
        |  FROM m0),
        |sp AS (SELECT doc_id, p, t, m, st,
        |    sum(st) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM w),
        |pieces AS (SELECT doc_id, p, st,
        |    CASE WHEN m = 0 THEN t
        |      WHEN st = 1 THEN '<extra_id_' ||
        |        CAST(sid - 1 AS VARCHAR) || '>'
        |      ELSE NULL END AS inp,
        |    CASE WHEN st = 1 THEN '<extra_id_' ||
        |        CAST(sid - 1 AS VARCHAR) || '> ' || t
        |      WHEN m = 1 THEN t
        |      ELSE NULL END AS tg
        |  FROM sp)
        |SELECT doc_id, CAST(sum(st) AS BIGINT) AS n_spans,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(inp, ' ' ORDER BY p), '') AS input,
        |  coalesce(string_agg(tg, ' ' ORDER BY p), '') AS target
        |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- p108: fill-in-the-middle rendering — two Carter-Wegman
    // cut positions per document, PSM order (suffix before middle).
    "p108_fim" -> Q(
      (s, dir) => graft.operators.Curation.fimTransform(
        tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id,
        |    str_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM documents),
        |sd AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
        |    ${QueryUtil.oPoly60("CAST(doc_id AS VARCHAR)")}
        |      % 2147483647 AS seed
        |  FROM t),
        |cuts AS (SELECT doc_id, tk, n,
        |    ((1103515245 * ((seed + 1013904223) % 2147483647)
        |      + 12345) % 2147483647) % (n + 1) AS a,
        |    ((1103515245 * ((seed + 2 * 1013904223) % 2147483647)
        |      + 12345) % 2147483647) % (n + 1) AS b
        |  FROM sd),
        |lohi AS (SELECT doc_id, tk, n, least(a, b) AS lo,
        |    greatest(a, b) AS hi FROM cuts)
        |SELECT doc_id, n AS n_tokens, lo AS cut_lo, hi AS cut_hi,
        |  '<fim_prefix> ' ||
        |    coalesce(array_to_string(tk[1:CAST(lo AS INTEGER)],
        |      ' '), '') ||
        |  ' <fim_suffix> ' ||
        |    coalesce(array_to_string(tk[CAST(hi + 1 AS INTEGER):
        |      CAST(n AS INTEGER)], ' '), '') ||
        |  ' <fim_middle> ' ||
        |    coalesce(array_to_string(tk[CAST(lo + 1 AS INTEGER):
        |      CAST(hi AS INTEGER)], ' '), '') AS fim
        |FROM lohi ORDER BY doc_id""".stripMargin)),

    // ---- p109: UniMax language-budget allocation — budget 1.2× the
    // corpus tokens, epoch cap 1.5×: the four minority languages cap
    // out, en absorbs the remainder. The greedy integer waterfill is
    // sequential by construction, so the oracle unrolls it as a
    // recursive CTE (the p74 discipline).
    "p109_unimax" -> Q(
      (s, dir) => Sampling.unimaxAllocation(
        tbl(s, dir, "documents"), "lang",
        size(Dedup.tokens(col("text"))),
        budgetPpm = 1200000L, maxEpochsPpm = 1500000L),
      Some("""WITH RECURSIVE counts AS (SELECT lang,
        |    CAST(sum(len(str_split_regex(trim(lower(text)), '\s+')))
        |      AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts),
        |ord AS (SELECT lang, n, (n * 1500000) // 1000000 AS cap,
        |    CAST(row_number() OVER (ORDER BY (n * 1500000) // 1000000,
        |      lang) AS BIGINT) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS k
        |  FROM counts),
        |alloc AS (
        |  SELECT CAST(0 AS BIGINT) AS i,
        |    (t * 1200000) // 1000000 AS rem,
        |    CAST(NULL AS VARCHAR) AS lang, CAST(0 AS BIGINT) AS b
        |  FROM tot
        |  UNION ALL
        |  SELECT o.i, a.rem - least(o.cap, a.rem // (o.k - a.i)),
        |    o.lang, least(o.cap, a.rem // (o.k - a.i))
        |  FROM alloc a JOIN ord o ON o.i = a.i + 1
        |)
        |SELECT o.lang AS lang, o.n AS n_tokens, o.cap AS cap_tokens,
        |  a.b AS alloc_tokens, (1000000 * a.b) // o.n AS epochs_ppm
        |FROM alloc a JOIN ord o ON o.lang = a.lang
        |ORDER BY o.lang""".stripMargin)),

    // ---- p110: dedup-recall evaluation harness — plant deterministic
    // 10%-token-dropout twins for a 10% document sample, run the
    // production MinHash-LSH candidate miner over originals ∪ twins,
    // and report how many planted pairs it recovered (the p78
    // fidelity-report idea applied to the dedup stack itself).
    "p110_dedup_recall" -> Q(
      (s, dir) => {
        val base = tbl(s, dir, "documents")
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text"))
        val twins = Dedup.dropoutTwins(base, "doc_id", "text",
          dropPpm = 100000L, idOffset = 100000000L)
        val cand = Dedup.minhashCandidatesPortable(
          base.union(twins), "doc_id", "text")
        val planted = base.agg(count(lit(1)).as("n_planted"))
        val rec = cand.agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(when(col("b_id") - col("a_id") === 100000000L,
            1L).otherwise(0L)), lit(0L)).as("n_recovered"))
        planted.crossJoin(rec).select(col("n_planted"),
          col("n_candidates"), col("n_recovered"),
          expr("CAST((1000000 * n_recovered) DIV n_planted AS BIGINT)")
            .as("recall_ppm"),
          (col("n_candidates") - col("n_recovered")).as("n_extra"))
      },
      Some(s"""WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |tw0 AS (SELECT doc_id,
        |    str_split_regex(trim(lower(text)), '\\s+') AS tk,
        |    ${QueryUtil.oPoly60("CAST(doc_id AS VARCHAR)")}
        |      % 2147483647 AS seed
        |  FROM base),
        |twins AS (SELECT doc_id + 100000000 AS doc_id,
        |    coalesce(array_to_string(list_transform(
        |      list_filter(range(1, len(tk) + 1),
        |        i -> ((1103515245 * ((seed + i * 1013904223)
        |          % 2147483647) + 12345) % 2147483647) % 1000000
        |          >= 100000),
        |      i -> tk[i]), ' '), '') AS text
        |  FROM tw0),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
        |${duckMinhashCandFrom("corpus")}
        |SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS n_planted,
        |  CAST(count(*) AS BIGINT) AS n_candidates,
        |  CAST(sum(CASE WHEN b_id - a_id = 100000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_recovered,
        |  (1000000 * CAST(sum(CASE WHEN b_id - a_id = 100000000
        |    THEN 1 ELSE 0 END) AS BIGINT))
        |    // CAST((SELECT count(*) FROM base) AS BIGINT)
        |    AS recall_ppm,
        |  CAST(count(*) AS BIGINT) -
        |    CAST(sum(CASE WHEN b_id - a_id = 100000000 THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_extra
        |FROM cand""".stripMargin)),

    // ---- p111: cross-lingual 8-gram leakage — shared distinct gram
    // hashes per unordered language pair (translated/copy-pasted
    // passages across language splits). One gram-grain exchange;
    // per-gram state is the language set (catalog-bounded), pair
    // fan-out ≤ C(|langs|, 2). DuckDB recomputes every gram hash
    // from text (the p80 discipline).
    "p111_cross_lingual_leakage" -> Q(
      (s, dir) => graft.operators.TextAnalysis.crossLingualLeakage(
          tbl(s, dir, "documents"), "lang", "text", n = 8)
        .orderBy(col("lang_a"), col("lang_b")),
      Some(s"""WITH tok AS (SELECT lang,
        |    str_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM documents),
        |g0 AS (SELECT lang, array_to_string(tk[i:i+7], ' ') AS gr
        |  FROM tok, unnest(range(1, len(tk) - 6)) t(i)),
        |gl AS (SELECT DISTINCT lang,
        |    ${QueryUtil.oPoly("gr", 31L, 1000000007L)} AS gh FROM g0)
        |SELECT a.lang AS lang_a, b.lang AS lang_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM gl a JOIN gl b ON a.gh = b.gh AND a.lang < b.lang
        |GROUP BY 1, 2 ORDER BY lang_a, lang_b""".stripMargin)),

    // ---- p112: concatenation-stitch pairs — a's last 3 tokens ==
    // b's first 3 (the chunking-seam dedup class MinHash misses).
    // Boundary equi-join with the maxBoundaryFreq=2 hot-boundary cap
    // exercised (one prefix boundary is dropped at sf0.01); the
    // companion oversized report is spec-gated in OperatorSpec.
    "p112_stitch_pairs" -> Q(
      (s, dir) => graft.operators.Dedup.stitchPairs(
          tbl(s, dir, "documents"), "doc_id", "text",
          k = 3, maxBoundaryFreq = 2)
        .orderBy(col("a_id"), col("b_id")),
      Some("""WITH tok AS (SELECT doc_id,
        |    str_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |t AS (SELECT doc_id, tk FROM tok WHERE len(tk) >= 3),
        |pre AS (SELECT doc_id AS b_id,
        |    array_to_string(tk[1:3], ' ') AS boundary FROM t),
        |suf AS (SELECT doc_id AS a_id,
        |    array_to_string(tk[len(tk)-2:len(tk)], ' ') AS boundary
        |  FROM t),
        |hot AS (SELECT boundary FROM (SELECT boundary, count(*) AS c
        |    FROM pre GROUP BY 1) WHERE c > 2
        |  UNION SELECT boundary FROM (SELECT boundary, count(*) AS c
        |    FROM suf GROUP BY 1) WHERE c > 2)
        |SELECT a_id, b_id, boundary
        |FROM suf JOIN pre USING (boundary)
        |WHERE a_id <> b_id
        |  AND boundary NOT IN (SELECT boundary FROM hot)
        |ORDER BY a_id, b_id""".stripMargin)),

    // ---- p113: largest-remainder mixture shares — the exact ppm
    // apportionment of a training recipe across sources by token
    // weight (shares provably sum to 1e6). One corpus-sized weight
    // aggregate; floors/remainders/rank on the 20-source table.
    "p113_mixture_shares" -> Q(
      (s, dir) => graft.operators.Sampling.largestRemainderShares(
        tbl(s, dir, "documents").select(col("source"),
          size(graft.operators.Dedup.tokens(col("text"))).cast("long")
            .as("ntok")),
        "source", col("ntok")),
      Some("""WITH w AS (SELECT source AS key,
        |    CAST(sum(len(str_split_regex(trim(lower(text)), '\s+')))
        |      AS BIGINT) AS weight
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(weight) AS HUGEINT) AS tw FROM w),
        |f AS (SELECT key, weight,
        |    CAST((CAST(weight AS HUGEINT) * 1000000) // tw AS BIGINT)
        |      AS floor_ppm,
        |    (CAST(weight AS HUGEINT) * 1000000) % tw AS rem
        |  FROM w CROSS JOIN t),
        |sh AS (SELECT 1000000 - CAST(sum(floor_ppm) AS BIGINT) AS s
        |  FROM f),
        |r AS (SELECT key, weight, floor_ppm,
        |    row_number() OVER (ORDER BY rem DESC, key) AS rk FROM f)
        |SELECT key, weight, floor_ppm,
        |  CAST(floor_ppm + CASE WHEN rk <= s THEN 1 ELSE 0 END
        |    AS BIGINT) AS share_ppm
        |FROM r CROSS JOIN sh ORDER BY key""".stripMargin)),

    // ---- p114: Wilson lower-bound quality gate per source — the
    // small-sample-honest pass-rate ranking (pass = n_chars >= 300).
    // IEEE doubles with +,-,*,/,sqrt only, expression tree mirrored
    // textually in the oracle, so both engines produce identical
    // bits before round(…, 4).
    "p114_wilson_gate" -> Q(
      (s, dir) => graft.operators.Curation.wilsonLowerBound(
          tbl(s, dir, "documents").select(col("source"), col("n_chars")),
          "source", col("n_chars") >= 300)
        .orderBy(col("source")),
      Some("""WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pass
        |  FROM documents GROUP BY 1),
        |d AS (SELECT source, n_docs, n_pass,
        |    CAST(n_docs AS DOUBLE) AS nn,
        |    CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p
        |  FROM a)
        |SELECT source, n_docs, n_pass, round(p, 4) AS pass_rate,
        |  round((p + (1.96*1.96)/(2.0*nn) - 1.96*sqrt((p*(1.0-p)
        |      + (1.96*1.96)/(4.0*nn))/nn)) / (1.0 + (1.96*1.96)/nn), 4)
        |    AS wilson_lb
        |FROM d ORDER BY source""".stripMargin)),

    // ---- p115: BPE fertility per language — tokens-per-word under
    // the p39-trained 8-merge table, the tokenizer-equity number a
    // UniMax-style budget should be corrected by. Merges apply to the
    // distinct-word table; per-lang rollup over doc-grain counts.
    "p115_bpe_fertility" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val merges = TextAnalysis.bpeMerges(docs, "text", 8)
        TextAnalysis.bpeFertility(docs, "lang", "doc_id", "text", merges)
          .orderBy(col("lang"))
      },
      Some(s"""WITH $duckBpe8,
        |wt AS (SELECT w, CAST(len(str_split(trim(s, chr(1)),
        |    chr(1)||chr(1))) AS BIGINT) AS ntok FROM words8),
        |dt AS (SELECT doc_id,
        |    unnest(str_split_regex(trim(lower(text)), '\\s+')) AS w
        |  FROM documents),
        |dm AS (SELECT doc_id, w, count(*) AS m FROM dt
        |  WHERE length(w) >= 1 GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_words,
        |    CAST(sum(m * ntok) AS BIGINT) AS n_bpe
        |  FROM dm JOIN wt USING (w) GROUP BY 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_words,
        |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
        |  round(CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE), 4)
        |    AS fertility
        |FROM pd JOIN documents USING (doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- p116: Newman modularity of the p84 label-prop communities
    // over the co-purchase graph — the clustering-quality gate
    // (near-zero total = the "communities" are noise). Exact integer
    // rational (4·m·e_c − d_c²)/(4·m²) per community, decimal
    // products, ONE double divide rounded to micro at the end. The
    // oracle replays the full 3-round LPA chain (shared with p84)
    // plus the degree/intra-edge aggregates.
    "p116_modularity" -> Q(
      (s, dir) => {
        // the LPA chain and modularity read ONE adjacency, so the
        // C(k,2) basket explode and its dedup run once
        val pairs = Association.withinGroupPairs(
          tbl(s, dir, "lineitem")
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p")
        Graph.withAdjacency(pairs, "x", "y") { adj =>
          Graph.modularity(adj, Graph.labelPropagation(adj, rounds = 3),
            "node", "label")
        }.orderBy(col("label"))
      },
      Some(s"""WITH $duckCoPurchaseLp3,
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e0),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |  FROM nb GROUP BY 1),
        |pl AS (SELECT l3.l, CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(d) AS BIGINT) AS sum_degree
        |  FROM deg JOIN l3 USING (n) GROUP BY 1),
        |ie AS (SELECT la.l, CAST(count(*) AS BIGINT) AS intra_edges
        |  FROM e0 JOIN l3 la ON la.n = e0.u JOIN l3 lb ON lb.n = e0.v
        |  WHERE la.l = lb.l GROUP BY 1)
        |SELECT pl.l AS label, n_nodes,
        |  coalesce(intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
        |  sum_degree,
        |  CAST(round((CAST(4 * m * CAST(coalesce(intra_edges, 0)
        |      AS HUGEINT) - CAST(sum_degree AS HUGEINT) * sum_degree
        |      AS DOUBLE) / CAST(4 * m * m AS DOUBLE)) * 1000000.0, 0)
        |    AS BIGINT) AS contribution_micro
        |FROM pl LEFT JOIN ie ON ie.l = pl.l CROSS JOIN m
        |ORDER BY label""".stripMargin)),

    // ---- p117: MinHash fidelity audit — estimated (matching
    // signature slots / 32) vs exact shingle Jaccard for every LSH
    // candidate pair, integer micro units; the calibration check
    // before trusting signature-only dedup thresholds. The oracle
    // replays signatures, candidates AND the exact Jaccard (shared
    // chains with p03/p17).
    "p117_minhash_fidelity" -> Q(
      (s, dir) => graft.operators.Dedup.minhashFidelity(
          tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("a_id"), col("b_id")),
      Some {
        val matches = (0 until 32).map(i =>
          s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH $duckMinhashCand,
          |$duckCandJaccard,
          |est AS (SELECT c.a_id, c.b_id,
          |    CAST((1000000 * ($matches)) // 32 AS BIGINT)
          |      AS est_jac_micro
          |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
          |  JOIN sig sb ON sb.doc_id = c.b_id)
          |SELECT e.a_id, e.b_id, est_jac_micro,
          |  CAST(round(j.jac * 1000000) AS BIGINT) AS true_jac_micro,
          |  abs(est_jac_micro - CAST(round(j.jac * 1000000) AS BIGINT))
          |    AS err_micro
          |FROM est e JOIN jac j ON j.a_id = e.a_id AND j.b_id = e.b_id
          |ORDER BY e.a_id, e.b_id""".stripMargin
      }),

    // ---- p118: incremental novelty — the daily-crawl batch
    // (doc_id % 10 = 0) scored against the rest of the corpus as
    // history: per batch doc, the fraction of its distinct 8-grams
    // the history has never seen, min-id attribution within the
    // batch. History reduces to distinct gram hashes (reusable across
    // increments); the batch side is p80's single-scan shape.
    "p118_incremental_novelty" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.operators.TextAnalysis.incrementalNovelty(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", n = 8)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id,
        |    str_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM documents),
        |g0 AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS gr
        |  FROM tok, unnest(range(1, len(tk) - 6)) t(i)),
        |g AS (SELECT DISTINCT doc_id,
        |    ${QueryUtil.oPoly("gr", 31L, 1000000007L)} AS gh FROM g0),
        |hist AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 <> 0),
        |b AS (SELECT doc_id, gh FROM g WHERE doc_id % 10 = 0),
        |f AS (SELECT gh, min(doc_id) AS first_id FROM b
        |  WHERE gh NOT IN (SELECT gh FROM hist) GROUP BY 1),
        |nv AS (SELECT first_id AS doc_id,
        |    CAST(count(*) AS BIGINT) AS n_novel FROM f GROUP BY 1),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM b GROUP BY 1)
        |SELECT pd.doc_id, n_grams,
        |  coalesce(n_novel, CAST(0 AS BIGINT)) AS n_novel,
        |  round(CAST(coalesce(n_novel, 0) AS DOUBLE) /
        |    CAST(n_grams AS DOUBLE), 4) AS novelty
        |FROM pd LEFT JOIN nv ON nv.doc_id = pd.doc_id
        |ORDER BY pd.doc_id""".stripMargin)),

    // ---- p119: maximal exact duplicated substrings (Lee et al.
    // 2022's ExactSubstr tier) — every ≥16-token span shared verbatim
    // by a doc pair, with both 1-based start positions; the long-
    // verbatim-duplicate detector that n-gram thresholds (p44/p46)
    // blur. Positional 8-gram poly fingerprints, hash-bucketed match
    // join with the maxGramFreq=2 hot-gram cap EXERCISED (71 grams
    // occur 3× at sf0.01 and are excluded — the boilerplate-gram
    // quadratic guard; companion oversized report is spec-gated in
    // DedupSpec), gaps-and-islands run-merge per (pair, diagonal);
    // DuckDB replays hashes, the cap, diagonals and islands exactly.
    "p119_exact_substring" -> Q(
      (s, dir) => graft.operators.Dedup.exactSubstringSpans(
          tbl(s, dir, "documents"), "doc_id", "text",
          n = 8, minTokens = 16, maxGramFreq = 2)
        .orderBy(col("a_id"), col("b_id"), col("a_pos"), col("b_pos")),
      Some {
        s"""WITH tok AS (SELECT doc_id,
          |    str_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
          |g0 AS (SELECT doc_id, i AS pos,
          |    array_to_string(tk[i:i+7], ' ') AS gr
          |  FROM tok, unnest(range(1, len(tk) - 6)) t(i)),
          |g AS (SELECT doc_id, pos,
          |    ${QueryUtil.oPoly("gr", 31L, 1000000007L)} AS gh FROM g0),
          |hot AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 2),
          |gk AS (SELECT doc_id, pos, gh FROM g
          |  WHERE gh NOT IN (SELECT gh FROM hot)),
          |m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    a.pos AS a_pos, b.pos AS b_pos
          |  FROM gk a JOIN gk b ON a.gh = b.gh AND a.doc_id < b.doc_id),
          |r AS (SELECT a_id, b_id, a_pos, b_pos,
          |    a_pos - row_number() OVER (
          |      PARTITION BY a_id, b_id, a_pos - b_pos
          |      ORDER BY a_pos) AS island
          |  FROM m)
          |SELECT a_id, b_id, CAST(min(a_pos) AS BIGINT) AS a_pos,
          |  CAST(min(b_pos) AS BIGINT) AS b_pos,
          |  CAST(count(*) + 7 AS BIGINT) AS span_tokens
          |FROM r GROUP BY a_id, b_id, a_pos - b_pos, island
          |HAVING count(*) + 7 >= 16
          |ORDER BY a_id, b_id, a_pos, b_pos""".stripMargin
      }),

    // ---- p120: span-level decontamination (Lee et al. 2022 §6.2 —
    // ExactSubstr between train and eval): the doc_id % 10 == 0 slice
    // plays the held-out benchmark (p118's batch-slice convention),
    // the rest is the training corpus;
    // report every ≥16-token span an eval doc shares VERBATIM with
    // any training doc, with both positions — the contamination
    // evidence an n-gram threshold (p23's tier) blurs. Train-train
    // duplicates (p119's job) are NOT reported; grams hot on the
    // TRAINING side (count > 2 — exercised at sf0.01) are excluded
    // before the join, the boilerplate cap sized by the side that
    // can be 100 TB. DuckDB replays the cross-side match join, the
    // cap and the run-merge exactly.
    "p120_decontam_spans" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.operators.Dedup.exactSubstringSpansAcross(
            docs.filter(col("doc_id") % 10 === 0),
            docs.filter(col("doc_id") % 10 =!= 0),
            "doc_id", "text", n = 8, minTokens = 16, maxGramFreq = 2)
          .orderBy(col("a_id"), col("b_id"), col("a_pos"), col("b_pos"))
      },
      Some {
        s"""WITH tok AS (SELECT doc_id,
          |    str_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
          |g0 AS (SELECT doc_id, i AS pos,
          |    array_to_string(tk[i:i+7], ' ') AS gr
          |  FROM tok, unnest(range(1, len(tk) - 6)) t(i)),
          |g AS (SELECT doc_id, pos,
          |    ${QueryUtil.oPoly("gr", 31L, 1000000007L)} AS gh FROM g0),
          |hot AS (SELECT gh FROM g WHERE doc_id % 10 <> 0
          |  GROUP BY gh HAVING count(*) > 2),
          |m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    a.pos AS a_pos, b.pos AS b_pos
          |  FROM g a JOIN g b ON a.gh = b.gh
          |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
          |    AND b.gh NOT IN (SELECT gh FROM hot)),
          |r AS (SELECT a_id, b_id, a_pos, b_pos,
          |    a_pos - row_number() OVER (
          |      PARTITION BY a_id, b_id, a_pos - b_pos
          |      ORDER BY a_pos) AS island
          |  FROM m)
          |SELECT a_id, b_id, CAST(min(a_pos) AS BIGINT) AS a_pos,
          |  CAST(min(b_pos) AS BIGINT) AS b_pos,
          |  CAST(count(*) + 7 AS BIGINT) AS span_tokens
          |FROM r GROUP BY a_id, b_id, a_pos - b_pos, island
          |HAVING count(*) + 7 >= 16
          |ORDER BY a_id, b_id, a_pos, b_pos""".stripMargin
      }),

    // ---- p121: ExactSubstr span REMOVAL (Lee et al. 2022 cut the
    // duplicated spans, not just report them) — p119's spans applied
    // keep-first (the higher-id occurrence of each pair is cut), the
    // survivors reassembled in token order; the oracle replays the
    // span derivation AND the byte-exact reassembly (kept_md5 on the
    // canonical single-space join), so a hash match proves the
    // cleaned corpus is identical byte-for-byte on both engines.
    "p121_exact_substring_removal" -> Q(
      (s, dir) => graft.operators.Dedup.exactSubstringRemove(
          tbl(s, dir, "documents"), "doc_id", "text",
          n = 8, minTokens = 16, maxGramFreq = 2)
        .select(col("doc_id"), col("n_tokens"), col("n_tokens_cut"),
          md5(col("text_clean")).as("kept_md5"))
        .orderBy(col("doc_id")),
      Some {
        s"""WITH tok AS (SELECT doc_id,
          |    str_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
          |g0 AS (SELECT doc_id, i AS pos,
          |    array_to_string(tk[i:i+7], ' ') AS gr
          |  FROM tok, unnest(range(1, len(tk) - 6)) t(i)),
          |g AS (SELECT doc_id, pos,
          |    ${QueryUtil.oPoly("gr", 31L, 1000000007L)} AS gh FROM g0),
          |hot AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 2),
          |gk AS (SELECT doc_id, pos, gh FROM g
          |  WHERE gh NOT IN (SELECT gh FROM hot)),
          |m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    a.pos AS a_pos, b.pos AS b_pos
          |  FROM gk a JOIN gk b ON a.gh = b.gh AND a.doc_id < b.doc_id),
          |r AS (SELECT a_id, b_id, a_pos, b_pos,
          |    a_pos - row_number() OVER (
          |      PARTITION BY a_id, b_id, a_pos - b_pos
          |      ORDER BY a_pos) AS island
          |  FROM m),
          |sp AS (SELECT a_id, b_id, min(a_pos) AS a_pos,
          |    min(b_pos) AS b_pos, count(*) + 7 AS span_tokens
          |  FROM r GROUP BY a_id, b_id, a_pos - b_pos, island
          |  HAVING count(*) + 7 >= 16),
          |cuts AS (SELECT b_id AS doc_id, b_pos AS s,
          |    b_pos + span_tokens - 1 AS e FROM sp),
          |pos AS (SELECT doc_id, i, tk[i] AS w
          |  FROM tok, unnest(range(1, len(tk) + 1)) t(i)),
          |kept AS (SELECT p.doc_id, p.i, p.w FROM pos p
          |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
          |    WHERE c.doc_id = p.doc_id AND p.i BETWEEN c.s AND c.e)),
          |re AS (SELECT doc_id,
          |    string_agg(w, ' ' ORDER BY i) AS text_clean,
          |    count(*) AS nk FROM kept GROUP BY 1)
          |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
          |  CAST(len(t.tk) - coalesce(re.nk, 0) AS BIGINT)
          |    AS n_tokens_cut,
          |  md5(coalesce(re.text_clean, '')) AS kept_md5
          |FROM tok t LEFT JOIN re ON re.doc_id = t.doc_id
          |ORDER BY t.doc_id""".stripMargin
      }),

    // ---- p122: decontamination REMOVAL (Lee et al. 2022 §6.2
    // applied as a cut, not a report) — p120's train-vs-eval spans
    // removed from the TRAINING occurrence, the benchmark slice
    // untouched; the training corpus reassembles byte-exact
    // (kept_md5), so a hash match proves the cleaned corpus is
    // identical on both engines. The contaminated-doc subset is tiny
    // but every training doc flows through (passthroughs pin
    // n_tokens_cut = 0 corpus-wide).
    "p122_decontam_removal" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.operators.Dedup.exactSubstringDecontam(
            docs.filter(col("doc_id") % 10 === 0),
            docs.filter(col("doc_id") % 10 =!= 0),
            "doc_id", "text", n = 8, minTokens = 16, maxGramFreq = 2)
          .select(col("doc_id"), col("n_tokens"), col("n_tokens_cut"),
            md5(col("text_clean")).as("kept_md5"))
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH tok AS (SELECT doc_id,
          |    str_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
          |g0 AS (SELECT doc_id, i AS pos,
          |    array_to_string(tk[i:i+7], ' ') AS gr
          |  FROM tok, unnest(range(1, len(tk) - 6)) t(i)),
          |g AS (SELECT doc_id, pos,
          |    ${QueryUtil.oPoly("gr", 31L, 1000000007L)} AS gh FROM g0),
          |hot AS (SELECT gh FROM g WHERE doc_id % 10 <> 0
          |  GROUP BY gh HAVING count(*) > 2),
          |m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    a.pos AS a_pos, b.pos AS b_pos
          |  FROM g a JOIN g b ON a.gh = b.gh
          |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
          |    AND a.doc_id <> b.doc_id
          |    AND b.gh NOT IN (SELECT gh FROM hot)),
          |r AS (SELECT a_id, b_id, a_pos, b_pos,
          |    a_pos - row_number() OVER (
          |      PARTITION BY a_id, b_id, a_pos - b_pos
          |      ORDER BY a_pos) AS island
          |  FROM m),
          |sp AS (SELECT a_id, b_id, min(a_pos) AS a_pos,
          |    min(b_pos) AS b_pos, count(*) + 7 AS span_tokens
          |  FROM r GROUP BY a_id, b_id, a_pos - b_pos, island
          |  HAVING count(*) + 7 >= 16),
          |cuts AS (SELECT b_id AS doc_id, b_pos AS s,
          |    b_pos + span_tokens - 1 AS e FROM sp),
          |train AS (SELECT doc_id, tk FROM tok WHERE doc_id % 10 <> 0),
          |pos AS (SELECT doc_id, i, tk[i] AS w
          |  FROM train, unnest(range(1, len(tk) + 1)) t(i)),
          |kept AS (SELECT p.doc_id, p.i, p.w FROM pos p
          |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
          |    WHERE c.doc_id = p.doc_id AND p.i BETWEEN c.s AND c.e)),
          |re AS (SELECT doc_id,
          |    string_agg(w, ' ' ORDER BY i) AS text_clean,
          |    count(*) AS nk FROM kept GROUP BY 1)
          |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
          |  CAST(len(t.tk) - coalesce(re.nk, 0) AS BIGINT)
          |    AS n_tokens_cut,
          |  md5(coalesce(re.text_clean, '')) AS kept_md5
          |FROM train t LEFT JOIN re ON re.doc_id = t.doc_id
          |ORDER BY t.doc_id""".stripMargin
      }),

    // ---- p123: Bradley–Terry preference strengths (Hunter 2004's
    // MM iteration, 3 exact-integer rounds — the PageRank/HITS
    // replay discipline) over adjacent purchase preferences: within
    // each user's purchases ordered by (cents desc, event_id), item
    // k beats the next strictly-cheaper item. The rating layer over
    // the preference pairs p101 constructs; DuckDB replays pair
    // mining, both per-round hash joins, the integer MM update and
    // the single-double max rescale bit-for-bit.
    "p123_bradley_terry" -> Q(
      (s, dir) => {
        val pur = tbl(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
              .getField("k").as("item"),
            cents(col("value")).as("c"))
          .filter(col("item").isNotNull)
        val matches = graft.operators.Ratings.adjacentPreferences(
          pur, "user_id", "item", "c", "event_id")
        graft.operators.Ratings.bradleyTerryMicro(
            matches, "winner", "loser", rounds = 3)
          .orderBy(col("player"))
      },
      Some {
        val round3 = (1 to 3).map { r =>
          val p = r - 1
          s"""d$r AS (SELECT e.i, CAST(sum(e.n * CAST(1000000000000 AS BIGINT)
             |    // greatest(si.s + sj.s, CAST(1 AS BIGINT))) AS BIGINT) AS d
             |  FROM e JOIN s$p si ON si.i = e.i JOIN s$p sj ON sj.i = e.j
             |  GROUP BY e.i),
             |r$r AS (SELECT wn.i, wn.wns * CAST(1000000000000 AS BIGINT)
             |    // greatest(d$r.d, CAST(1 AS BIGINT)) AS r
             |  FROM wn JOIN d$r ON d$r.i = wn.i),
             |m$r AS (SELECT max(r) AS mx FROM r$r),
             |s$r AS (SELECT i, CAST(round(CAST(r AS DOUBLE) * 1000000.0 /
             |    CAST(mx AS DOUBLE)) AS BIGINT) AS s
             |  FROM r$r CROSS JOIN m$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH pur AS (SELECT user_id, event_id,
          |    CAST(props->>'k' AS BIGINT) AS item,
          |    CAST(round(value * 100) AS BIGINT) AS c
          |  FROM events
          |  WHERE event_type = 'purchase'
          |    AND (props->>'k') IS NOT NULL),
          |o AS (SELECT user_id, item, c,
          |    lag(item) OVER (PARTITION BY user_id
          |      ORDER BY c DESC, event_id) AS pk,
          |    lag(c) OVER (PARTITION BY user_id
          |      ORDER BY c DESC, event_id) AS pc
          |  FROM pur),
          |pr AS (SELECT pk AS w, item AS l FROM o
          |  WHERE pk IS NOT NULL AND pc > c AND pk <> item),
          |pw AS (SELECT w, l, CAST(count(*) AS BIGINT) AS n
          |  FROM pr GROUP BY 1, 2),
          |e AS (SELECT i, j, CAST(sum(n) AS BIGINT) AS n FROM (
          |    SELECT w AS i, l AS j, n FROM pw
          |    UNION ALL SELECT l AS i, w AS j, n FROM pw) GROUP BY 1, 2),
          |pl AS (SELECT i, CAST(sum(n) AS BIGINT) AS nm FROM e GROUP BY 1),
          |wt AS (SELECT w AS i, CAST(sum(n) AS BIGINT) AS wns
          |  FROM pw GROUP BY 1),
          |wn AS (SELECT pl.i, pl.nm,
          |    coalesce(wt.wns, CAST(0 AS BIGINT)) AS wns
          |  FROM pl LEFT JOIN wt ON wt.i = pl.i),
          |s0 AS (SELECT i, CAST(1000000 AS BIGINT) AS s FROM pl),
          |$round3
          |SELECT s3.i AS player, s3.s AS bt_micro, wn.nm AS n_matches,
          |  wn.wns AS n_wins
          |FROM s3 JOIN wn ON wn.i = s3.i ORDER BY player""".stripMargin
      }),

    // ---- p124: exact ROC-AUC of the trained quality perceptron via
    // the tie-corrected rank-sum identity (Mann–Whitney U) — the
    // threshold-free ordering audit beside p79's calibration table.
    // All-integer doubled rank sums; the oracle replays the TRAINED
    // scores (duckPerceptron) and the prefix/rank arithmetic exactly.
    "p124_classifier_auc" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.operators.Curation.aucReport(
          graft.operators.Curation.perceptronQuality(docs, "doc_id",
            "text", when(col("lang") === "en", 1L).otherwise(-1L),
            buckets = 16, rounds = 3),
          "score", "y")
      },
      Some {
        s"""WITH $duckPerceptron,
          |g AS (SELECT dot AS sc, CAST(count(*) AS BIGINT) AS t,
          |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p
          |  FROM fin GROUP BY 1),
          |cm AS (SELECT sc, t, p, CAST(coalesce(sum(t) OVER (ORDER BY sc
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS BIGINT) AS c
          |  FROM g),
          |a AS (SELECT CAST(sum(p) AS BIGINT) AS np,
          |    CAST(sum(t - p) AS BIGINT) AS nn,
          |    CAST(sum(p * (2 * c + t + 1)) AS BIGINT) AS rs2 FROM cm)
          |SELECT np AS n_pos, nn AS n_neg,
          |  rs2 - np * (np + 1) AS u2,
          |  round(CAST(rs2 - np * (np + 1) AS DOUBLE) /
          |    (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE) * 2.0), 6) AS auc
          |FROM a""".stripMargin
      }),

    // ---- p125: inter-rater agreement (Cohen's kappa) between two
    // independent heuristic quality gates (stopword-ratio ≥ 6%,
    // type-token ratio ≥ 0.5), per language — the label-QA audit run
    // before training on heuristic labels. Integer-exact marginals;
    // one double divide per language.
    "p125_rater_agreement" -> Q(
      (s, dir) => {
        // all three rater counters fold in the single-scan codegen
        // TokenStats pass (the r16 interpreted-HOF cost class fix)
        val docs = tbl(s, dir, "documents")
          .withColumn("__ts", graft.functions.TokenStats(col("text"),
            Seq("the", "a", "an", "and", "or", "of", "to", "in",
              "is", "it")))
        val r1 = (col("__ts.stop_hits") * 1000)
          .geq(col("__ts.n_words") * 60)
        val r2 = (col("__ts.n_distinct") * 2).geq(col("__ts.n_words"))
        graft.operators.Curation.raterAgreement(docs, "lang", r1, r2)
          .orderBy(col("lang"))
      },
      Some {
        """WITH tok AS (SELECT lang,
          |    str_split_regex(trim(lower(text)), '\s+') AS tk
          |  FROM documents),
          |r AS (SELECT lang,
          |    CASE WHEN len(list_filter(tk, x -> x IN ('the','a','an',
          |      'and','or','of','to','in','is','it'))) * 1000
          |      >= len(tk) * 60 THEN 1 ELSE 0 END AS r1,
          |    CASE WHEN len(list_distinct(tk)) * 2 >= len(tk)
          |      THEN 1 ELSE 0 END AS r2
          |  FROM tok),
          |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_agree,
          |    CAST(sum(r1) AS BIGINT) AS r1_pos,
          |    CAST(sum(r2) AS BIGINT) AS r2_pos
          |  FROM r GROUP BY 1)
          |SELECT lang, n_docs, n_agree, r1_pos, r2_pos,
          |  CASE WHEN n_docs * n_docs - (r1_pos * r2_pos +
          |      (n_docs - r1_pos) * (n_docs - r2_pos)) = 0 THEN NULL
          |    ELSE round(CAST(n_docs * n_agree - (r1_pos * r2_pos +
          |        (n_docs - r1_pos) * (n_docs - r2_pos)) AS DOUBLE) /
          |      CAST(n_docs * n_docs - (r1_pos * r2_pos +
          |        (n_docs - r1_pos) * (n_docs - r2_pos)) AS DOUBLE), 6)
          |  END AS kappa
          |FROM a ORDER BY lang""".stripMargin
      }),

    // ---- p126: vocabulary richness per source over word bigrams —
    // observed distinct grams, the f1/f2 tail, the bias-corrected
    // Chao1 total-vocabulary estimate (Chao 1984) and Simpson's
    // concentration (Simpson 1949). Gram hashes come from the codegen
    // ShingleHashes positional pass; DuckDB recomputes each from gram
    // text (the p44/p80 discipline) and replays every count exactly.
    "p126_vocab_richness" -> Q(
      (s, dir) => graft.operators.TextAnalysis
        .vocabRichness(tbl(s, dir, "documents"), "source", "text", n = 2)
        .orderBy(col("source")),
      Some {
        s"""WITH tok AS (SELECT source,
          |    str_split_regex(trim(lower(text)), '\\s+') AS tk
          |  FROM documents),
          |g0 AS (SELECT source, array_to_string(tk[i:i+1], ' ') AS gr
          |  FROM tok, unnest(range(1, len(tk))) t(i)),
          |g AS (SELECT source,
          |    ${QueryUtil.oPoly("gr", 31L, 1000000007L)} AS gh FROM g0),
          |c AS (SELECT source, gh, CAST(count(*) AS BIGINT) AS c
          |  FROM g GROUP BY 1, 2),
          |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_grams,
          |    CAST(count(*) AS BIGINT) AS v_distinct,
          |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
          |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
          |    CAST(sum(c * (c - 1)) AS BIGINT) AS rep2
          |  FROM c GROUP BY 1)
          |SELECT source, n_grams, v_distinct, f1, f2,
          |  round(CAST(v_distinct AS DOUBLE) +
          |    CAST(f1 * (f1 - 1) AS DOUBLE) /
          |    (CAST(f2 + 1 AS DOUBLE) * 2.0), 4) AS chao1,
          |  CASE WHEN n_grams < 2 THEN NULL ELSE
          |    round(CAST(rep2 AS DOUBLE) / (CAST(n_grams AS DOUBLE) *
          |      CAST(n_grams - 1 AS DOUBLE)), 6) END AS simpson
          |FROM a ORDER BY source""".stripMargin
      }),

    // ---- p127: interpolated Kneser–Ney bigram LM scoring — the
    // CCNet shape for real: train on doc_id % 10 != 0, score the
    // held-out tenth (real backoff on unseen bigrams). Every
    // probability is a ratio of integers over the common denominator
    // 4·c(a)·(NN+V+1), so DuckDB replays estimation AND scoring
    // bit-for-bit (logs of integers, micro-nat quantization — the
    // p40 discipline with a stronger model).
    "p127_kneser_ney" -> Q(
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.operators.TextAnalysis.kneserNeyScore(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some {
        """WITH tok AS (SELECT doc_id,
          |    str_split_regex(trim(lower(text)), '\s+') AS tk
          |  FROM documents),
          |t2 AS (SELECT * FROM tok WHERE len(tk) >= 2),
          |bgall AS (SELECT doc_id, tk[i] AS a, tk[i+1] AS b
          |  FROM t2, unnest(range(1, len(tk))) t(i)),
          |tb AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab
          |  FROM bgall WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
          |hist AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca,
          |    CAST(count(*) AS BIGINT) AS n1a FROM tb GROUP BY 1),
          |cont AS (SELECT b, CAST(count(*) AS BIGINT) AS n1b
          |  FROM tb GROUP BY 1),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM tb),
          |voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
          |  FROM (SELECT unnest(tk) AS t FROM t2 WHERE doc_id % 10 <> 0)),
          |db AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS m
          |  FROM bgall WHERE doc_id % 10 = 0 GROUP BY 1, 2, 3),
          |sc AS (SELECT db.doc_id, db.m,
          |    CASE WHEN tb.cab IS NULL THEN db.m ELSE 0 END AS mu,
          |    CASE WHEN h.ca IS NULL THEN coalesce(c.n1b, 0) + 1
          |      WHEN tb.cab IS NOT NULL THEN
          |        (4 * tb.cab - 3) * (t.nn + v.v + 1) +
          |          3 * h.n1a * (coalesce(c.n1b, 0) + 1)
          |      ELSE 3 * h.n1a * (coalesce(c.n1b, 0) + 1) END AS num,
          |    CASE WHEN h.ca IS NULL THEN t.nn + v.v + 1
          |      ELSE 4 * h.ca * (t.nn + v.v + 1) END AS den
          |  FROM db LEFT JOIN tb ON tb.a = db.a AND tb.b = db.b
          |    LEFT JOIN hist h ON h.a = db.a
          |    LEFT JOIN cont c ON c.b = db.b
          |    CROSS JOIN tot t CROSS JOIN voc v),
          |lp AS (SELECT doc_id, m, mu, CAST(round(
          |    (ln(num) - ln(den)) * 1000000) AS BIGINT) AS lpm FROM sc),
          |ag AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
          |    CAST(sum(mu) AS BIGINT) AS n_unseen,
          |    CAST(sum(m * lpm) AS BIGINT) AS lp_total
          |  FROM lp GROUP BY 1)
          |SELECT doc_id, n_bigrams, n_unseen,
          |  (-CAST(lp_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
          |    / 1000000.0 AS avg_nll
          |FROM ag ORDER BY doc_id""".stripMargin
      }),

    // ---- p128: greedy k-center coreset (Gonzalez 1985 farthest-
    // point traversal) over the embeddings — diversity-sampling
    // selection of the 6 vectors that best cover the corpus.
    // Micro-quantized cosine distances make every pick replayable;
    // the oracle unrolls the 6 sequential argmax rounds.
    "p128_kcenter_coreset" -> Q(
      (s, dir) => graft.operators.Similarity.kCenterCoreset(
          tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 6)
        .orderBy(col("rnk")),
      Some {
        val d = (a: String, b: String) =>
          s"CAST(round((1.0 - ${duckCos(a, b)}) * 1000000) AS BIGINT)"
        val rounds = (2 to 6).map { r =>
          val p = r - 1
          val upd = if (r < 6)
            s""",
               |m$r AS (SELECT m$p.vec_id, m$p.v,
               |  least(m$p.dmin, ${d(s"m$p.v", s"t$r.cv")}) AS dmin
               |  FROM m$p CROSS JOIN t$r)""".stripMargin
          else ""
          s"""t$r AS (SELECT vec_id AS cid, v AS cv, dmin AS rad
             |  FROM m$p ORDER BY dmin DESC, vec_id LIMIT 1)$upd""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
          |  FROM embeddings),
          |c1 AS (SELECT vec_id AS cid, v AS cv FROM e
          |  ORDER BY vec_id LIMIT 1),
          |m1 AS (SELECT e.vec_id, e.v, ${d("e.v", "c1.cv")} AS dmin
          |  FROM e CROSS JOIN c1),
          |$rounds
          |SELECT * FROM (
          |  SELECT CAST(1 AS BIGINT) AS rnk, cid AS vec_id,
          |    CAST(NULL AS BIGINT) AS radius_micro FROM c1
          |  UNION ALL SELECT 2, cid, rad FROM t2
          |  UNION ALL SELECT 3, cid, rad FROM t3
          |  UNION ALL SELECT 4, cid, rad FROM t4
          |  UNION ALL SELECT 5, cid, rad FROM t5
          |  UNION ALL SELECT 6, cid, rad FROM t6)
          |ORDER BY rnk""".stripMargin
      }),

    // ---- p129: the Gopher quality-rule gate (Rae et al. 2021 Table
    // A1) — the canonical heuristic filter bundle: word-count bounds,
    // mean word length, symbol ratio, alphabetic-word fraction,
    // stopword presence. All verdicts integer-exact; one narrow
    // codegen pass. The presence set is re-tuned to this corpus's
    // function words {the, a} (Gopher's own set barely intersects the
    // synthetic vocabulary — the canonical 8 would gate everything
    // out); specs exercise the Gopher defaults.
    "p129_gopher_gate" -> Q(
      (s, dir) => graft.operators.Curation
        .gopherGate(tbl(s, dir, "documents"), "doc_id", "text",
          stopWords = Seq("the", "a"))
        .orderBy(col("doc_id")),
      Some {
        """WITH t AS (SELECT doc_id, text,
          |    str_split_regex(trim(lower(text)), '\s+') AS tk
          |  FROM documents),
          |m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
          |    CAST(list_sum(list_transform(tk, x -> length(x)))
          |      AS BIGINT) AS chars,
          |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
          |      AS BIGINT) AS alpha,
          |    CAST(len(list_distinct(list_filter(tk, x -> x IN
          |      ('the','a'))))
          |      AS BIGINT) AS n_stop_distinct,
          |    CAST((length(text) - length(replace(text, '#', ''))) +
          |      (length(text) - length(replace(text, '...', ''))) / 3 +
          |      (length(text) - length(replace(text, '…', '')))
          |      AS BIGINT) AS n_sym
          |  FROM t)
          |SELECT doc_id, n_words,
          |  round(CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
          |    AS mean_word_len,
          |  round(CAST(alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
          |    AS alpha_frac,
          |  n_stop_distinct, n_sym,
          |  (n_words >= 50 AND n_words <= 100000 AND
          |    chars >= n_words * 3 AND chars <= n_words * 10 AND
          |    alpha * 5 >= n_words * 4 AND n_stop_distinct >= 2 AND
          |    n_sym * 10 <= n_words) AS keep
          |FROM m ORDER BY doc_id""".stripMargin
      }),

    // ---- p130: label-separation silhouette over the labeled
    // embeddings — per ground-truth label, mean cosine to the own
    // centroid vs the nearest OTHER centroid, and the margin. The
    // embedding-quality gate run before label-conditioned curation.
    // Centroids use the p30 micro-sum discipline so DuckDB replays
    // them exactly.
    "p130_label_silhouette" -> Q(
      (s, dir) => graft.operators.Similarity.labelSilhouette(
          tbl(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy(col("label")),
      Some {
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
          |  FROM embeddings),
          |dx AS (SELECT label, d,
          |    CAST(sum(CAST(round(v[d] * 1000000) AS BIGINT)) AS BIGINT)
          |      AS sx,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM e, unnest(range(1, len(v) + 1)) t(d) GROUP BY 1, 2),
          |c AS (SELECT label AS clab,
          |    list(CAST(sx AS DOUBLE) / n / 1000000.0 ORDER BY d) AS cv
          |  FROM dx GROUP BY 1),
          |sc AS (SELECT e.vec_id, e.label, c.clab,
          |    CAST(round(${duckCos("e.v", "c.cv")} * 1000000) AS BIGINT)
          |      AS cm
          |  FROM e CROSS JOIN c),
          |pv AS (SELECT vec_id, label,
          |    max(CASE WHEN label = clab THEN cm END) AS own,
          |    max(CASE WHEN label <> clab THEN cm END) AS oth
          |  FROM sc GROUP BY 1, 2),
          |ag AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members,
          |    CAST(sum(own) AS BIGINT) AS so,
          |    CAST(sum(oth) AS BIGINT) AS st
          |  FROM pv GROUP BY 1)
          |SELECT label, n_members,
          |  round(CAST(so AS DOUBLE) / n_members / 1000000.0, 4)
          |    AS mean_intra,
          |  round(CAST(st AS DOUBLE) / n_members / 1000000.0, 4)
          |    AS mean_nearest_other,
          |  round(CAST(so - st AS DOUBLE) / n_members / 1000000.0, 4)
          |    AS margin
          |FROM ag ORDER BY label""".stripMargin
      }),

    // ---- p131: Moore–Lewis cross-entropy-difference selection —
    // the classic in-domain data miner: every non-en pool doc scored
    // under the en-trained KN LM and under the pool's own KN LM,
    // ranked by the per-token nll difference, lowest tercile kept.
    // Two full p127 chains; the oracle replays both bit-for-bit.
    "p131_moore_lewis" -> Q(
      (s, dir) => graft.operators.TextAnalysis.mooreLewisSelect(
          tbl(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .orderBy(col("doc_id")),
      Some {
        def kn(p: String, trainCond: String): String =
          s"""${p}tb AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab
             |  FROM bgall WHERE $trainCond GROUP BY 1, 2),
             |${p}hist AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca,
             |    CAST(count(*) AS BIGINT) AS n1a FROM ${p}tb GROUP BY 1),
             |${p}cont AS (SELECT b, CAST(count(*) AS BIGINT) AS n1b
             |  FROM ${p}tb GROUP BY 1),
             |${p}tot AS (SELECT CAST(count(*) AS BIGINT) AS nn
             |  FROM ${p}tb),
             |${p}voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
             |  FROM (SELECT unnest(tk) AS t FROM t2 WHERE $trainCond)),
             |${p}sc AS (SELECT db.doc_id, db.m,
             |    CASE WHEN h.ca IS NULL THEN coalesce(c.n1b, 0) + 1
             |      WHEN tb.cab IS NOT NULL THEN
             |        (4 * tb.cab - 3) * (t.nn + v.v + 1) +
             |          3 * h.n1a * (coalesce(c.n1b, 0) + 1)
             |      ELSE 3 * h.n1a * (coalesce(c.n1b, 0) + 1) END AS num,
             |    CASE WHEN h.ca IS NULL THEN t.nn + v.v + 1
             |      ELSE 4 * h.ca * (t.nn + v.v + 1) END AS den
             |  FROM db LEFT JOIN ${p}tb tb
             |      ON tb.a = db.a AND tb.b = db.b
             |    LEFT JOIN ${p}hist h ON h.a = db.a
             |    LEFT JOIN ${p}cont c ON c.b = db.b
             |    CROSS JOIN ${p}tot t CROSS JOIN ${p}voc v),
             |${p}ag AS (SELECT doc_id, CAST(sum(m) AS BIGINT)
             |      AS n_bigrams,
             |    CAST(sum(m * CAST(round((ln(num) - ln(den)) * 1000000)
             |      AS BIGINT)) AS BIGINT) AS lp
             |  FROM ${p}sc GROUP BY 1)""".stripMargin
        s"""WITH tok AS (SELECT doc_id, lang,
          |    str_split_regex(trim(lower(text)), '\\s+') AS tk
          |  FROM documents),
          |t2 AS (SELECT * FROM tok WHERE len(tk) >= 2),
          |bgall AS (SELECT doc_id, lang, tk[i] AS a, tk[i+1] AS b
          |  FROM t2, unnest(range(1, len(tk))) t(i)),
          |db AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS m
          |  FROM bgall WHERE lang <> 'en' GROUP BY 1, 2, 3),
          |${kn("i", "lang = 'en'")},
          |${kn("g", "lang <> 'en'")},
          |j AS (SELECT i.doc_id, i.n_bigrams,
          |    (-CAST(i.lp AS DOUBLE) / CAST(i.n_bigrams AS DOUBLE))
          |      / 1000000.0 AS nll_in,
          |    (-CAST(g.lp AS DOUBLE) / CAST(g.n_bigrams AS DOUBLE))
          |      / 1000000.0 AS nll_gen
          |  FROM iag i JOIN gag g USING (doc_id)),
          |s AS (SELECT doc_id, n_bigrams, nll_in, nll_gen,
          |    nll_in - nll_gen AS ml_score FROM j),
          |r AS (SELECT *, ntile(3) OVER (ORDER BY ml_score, doc_id)
          |    AS t3 FROM s)
          |SELECT doc_id, n_bigrams, nll_in, nll_gen, ml_score,
          |  CASE t3 WHEN 1 THEN 'select' WHEN 2 THEN 'middle'
          |    ELSE 'reject' END AS ml_bucket
          |FROM r ORDER BY doc_id""".stripMargin
      }),

    // ---- p132: Johnson–Lindenstrauss projection fidelity — project
    // 64-dim embeddings to 16 dims with the deterministic ±1
    // Achlioptas sign matrix (LCG parity, the p07 hyperplane
    // discipline) and report per-adjacent-pair cosine distortion.
    // The measurement before switching ANN to cheaper projected
    // vectors; the oracle regenerates every sign and replays both
    // cosines exactly.
    "p132_jl_distortion" -> Q(
      (s, dir) => graft.operators.Similarity.jlDistortionAdjacent(
          tbl(s, dir, "embeddings"), "vec_id", "embedding",
          inDim = 64, outDim = 16)
        .orderBy(col("vec_id")),
      Some {
        val signs = graft.operators.Similarity.jlSigns(64, 16)
        val projCols = signs.map(row =>
          s"list_dot_product(v, CAST([${row.mkString(", ")}] AS DOUBLE[]))")
          .mkString(",\n|      ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
          |  FROM embeddings),
          |p AS (SELECT vec_id, v, [
          |      $projCols
          |    ] AS pv FROM e)
          |SELECT a.vec_id AS vec_id,
          |  CAST(round(${duckCos("a.v", "b.v")} * 1000000) AS BIGINT)
          |    AS cos_orig_micro,
          |  CAST(round(${duckCos("a.pv", "b.pv")} * 1000000) AS BIGINT)
          |    AS cos_proj_micro,
          |  abs(CAST(round(${duckCos("a.v", "b.v")} * 1000000) AS BIGINT)
          |    - CAST(round(${duckCos("a.pv", "b.pv")} * 1000000)
          |      AS BIGINT)) AS err_micro
          |FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
          |ORDER BY vec_id""".stripMargin
      }),

    // ---- p133: corpus token-statistics census by source — the full
    // codegen TokenStats counter set (words, chars, alpha words,
    // distinct tokens, stopword hits, symbols incl. real ellipses,
    // punctuation, uppercase) summed to source grain. One codegen
    // scan + one group-grain aggregate; every column an exact
    // integer sum, oracle-gating all ten counters of the r17
    // expression at once.
    "p133_token_stats" -> Q(
      (s, dir) => graft.operators.TextAnalysis
        .tokenStatsProfile(tbl(s, dir, "documents"), "source", "text")
        .orderBy(col("source")),
      Some {
        """WITH t AS (SELECT source, text,
          |    str_split_regex(trim(lower(text)), '\s+') AS tk
          |  FROM documents),
          |m AS (SELECT source,
          |    CAST(len(tk) AS BIGINT) AS w,
          |    CAST(list_sum(list_transform(tk, x -> length(x)))
          |      AS BIGINT) AS ch,
          |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
          |      AS BIGINT) AS al,
          |    CAST(len(list_distinct(tk)) AS BIGINT) AS dt,
          |    CAST(len(list_filter(tk, x -> x IN ('the','a','an','and',
          |      'or','of','to','in','is','it'))) AS BIGINT) AS sh,
          |    CAST(len(list_distinct(list_filter(tk, x -> x IN ('the',
          |      'a','an','and','or','of','to','in','is','it'))))
          |      AS BIGINT) AS sd,
          |    CAST((length(text) - length(replace(text, '#', ''))) +
          |      (length(text) - length(replace(text, '...', ''))) / 3 +
          |      (length(text) - length(replace(text, '…', '')))
          |      AS BIGINT) AS sy,
          |    CAST(length(text) -
          |      length(regexp_replace(text, '[.,!?;:]', '', 'g'))
          |      AS BIGINT) AS pu,
          |    CAST(length(text) -
          |      length(regexp_replace(text, '[A-Z]', '', 'g'))
          |      AS BIGINT) AS up,
          |    CAST(length(text) AS BIGINT) AS nc
          |  FROM t)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(w) AS BIGINT) AS n_words,
          |  CAST(sum(ch) AS BIGINT) AS chars,
          |  CAST(sum(al) AS BIGINT) AS alpha,
          |  CAST(sum(dt) AS BIGINT) AS distinct_tokens,
          |  CAST(sum(sh) AS BIGINT) AS stop_hits,
          |  CAST(sum(sd) AS BIGINT) AS stop_distinct,
          |  CAST(sum(sy) AS BIGINT) AS n_sym,
          |  CAST(sum(pu) AS BIGINT) AS n_punct,
          |  CAST(sum(up) AS BIGINT) AS n_upper,
          |  CAST(sum(nc) AS BIGINT) AS n_chars
          |FROM m GROUP BY 1 ORDER BY source""".stripMargin
      }),

    // ---- p134: CCNet-style line-level boilerplate removal. The
    // synthetic corpus has no repeated lines, so the entry BUILDS the
    // web-page shape the operator exists for: pages of up-to-10 docs
    // per source, each page wrapped in a per-source header line and a
    // global footer line — exactly the nav/footer boilerplate that
    // repeats verbatim across pages while body text stays unique.
    // Header+footer must come back as the boilerplate count; the
    // kept_md5 fingerprints the surviving body in original order.
    "p134_line_boilerplate" -> Q(
      (s, dir) => {
        val pages = tbl(s, dir, "documents")
          .groupBy(col("source"), expr("doc_id div 10").as("pg"))
          .agg(array_join(expr(
            """transform(array_sort(collect_list(
              |  struct(doc_id AS i, text AS t))), x -> x.t)"""
              .stripMargin), "\n").as("body"))
          .select(concat_ws("_", col("source"), col("pg")).as("page_id"),
            concat(lit("domain: "), col("source"), lit("\n"),
              col("body"), lit("\nall rights reserved")).as("text"))
        graft.operators.Dedup
          .lineBoilerplate(pages, "page_id", "text", minDocs = 3)
          .orderBy(col("page_id"))
      },
      Some {
        """WITH pg AS (SELECT
          |    source || '_' || CAST(doc_id // 10 AS VARCHAR) AS page_id,
          |    'domain: ' || source || chr(10) ||
          |      string_agg(text, chr(10) ORDER BY doc_id) || chr(10) ||
          |      'all rights reserved' AS text
          |  FROM documents GROUP BY source, doc_id // 10),
          |ln AS (SELECT page_id, i AS pos,
          |    list_extract(ls, CAST(i AS INT)) AS line
          |  FROM (SELECT page_id, string_split(text, chr(10)) AS ls
          |        FROM pg), unnest(range(1, len(ls) + 1)) t(i)),
          |hot AS (SELECT line FROM (
          |    SELECT line, count(DISTINCT page_id) AS nd FROM ln
          |    WHERE trim(line) <> '' GROUP BY 1)
          |  WHERE nd >= 3)
          |SELECT ln.page_id, CAST(count(*) AS BIGINT) AS n_lines,
          |  CAST(sum(CASE WHEN h.line IS NOT NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_boiler_lines,
          |  md5(coalesce(string_agg(
          |    CASE WHEN h.line IS NULL THEN ln.line END,
          |    chr(10) ORDER BY ln.pos), '')) AS kept_md5
          |FROM ln LEFT JOIN hot h ON h.line = ln.line
          |GROUP BY 1 ORDER BY page_id""".stripMargin
      }),

    // ---- p135: semantic decontamination — corpus embeddings whose
    // nearest eval-set embedding (the first 50 vector ids play the
    // held-out benchmark) exceeds a cosine threshold are flagged, the
    // embedding-space companion to the p23/p120/p122 n-gram
    // decontamination tiers. Per-pair micros before the max; the
    // threshold (0.30) is re-tuned to this corpus's cosine range the
    // way p129 re-tunes the Gopher stop set (max observed ~0.45).
    // The eval side is FIXED-SIZE by id bound (benchmarks don't grow
    // with the training corpus): the broadcast scan stays linear in
    // the corpus at any scale — an early %-modulus spelling grew the
    // eval side with the corpus and measured quadratic (387s at
    // 100×; this spelling ~6s).
    "p135_semantic_decontam" -> Q(
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        graft.operators.Similarity.semanticDecontam(
            emb.filter(expr("vec_id > 50")),
            emb.filter(expr("vec_id <= 50")),
            "vec_id", "embedding", tauMicro = 300000L)
          .orderBy(col("vec_id"))
      },
      Some {
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
          |  FROM embeddings),
          |ev AS (SELECT vec_id AS eid, v AS evv FROM e
          |  WHERE vec_id <= 50),
          |c AS (SELECT vec_id, v FROM e WHERE vec_id > 50),
          |sc AS (SELECT c.vec_id,
          |    CAST(round(${duckCos("c.v", "ev.evv")} * 1000000)
          |      AS BIGINT) AS cm
          |  FROM c CROSS JOIN ev WHERE c.vec_id <> ev.eid),
          |m AS (SELECT vec_id, CAST(max(cm) AS BIGINT)
          |    AS max_cos_micro FROM sc GROUP BY 1)
          |SELECT vec_id, max_cos_micro,
          |  max_cos_micro >= 300000 AS contaminated
          |FROM m ORDER BY vec_id""".stripMargin
      })
  )
}
