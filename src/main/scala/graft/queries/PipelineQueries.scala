package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{ConnectedComponents, Dedup, Multimodal, Profiling,
  Retrieval, Sampling, Similarity, Sketches, TextAnalysis}

/** LLM-training-data pipeline queries (SURVEY.md §7.2 phase D, charter
  * north_star): dedup (exact / MinHash-LSH / n-gram Jaccard / SimHash /
  * embedding-cosine), similarity search (brute-force + sign-LSH ANN),
  * text analysis, multimodal binary metadata. Each paired with DuckDB
  * oracle SQL mirroring the same algorithm.
  */
object PipelineQueries {

  /** Explode a GR-raster frame to one row per pixel byte — the gate's
    * strongest shape for the raster kernels: (doc_id, pos, px) with px
    * recovered via hex/conv (byte-exact for any value 0–255, no UTF-8
    * decode anywhere). Pixels start after the 7-byte header. */
  private def rasterPixelRows(rz: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    rz.select(col("doc_id"), col("payload"),
        explode(expr("sequence(0L, length(payload) - 8L)")).as("pos"))
      .select(col("doc_id"), col("pos"),
        expr("cast(conv(hex(substring(payload, cast(pos + 8 as int), " +
          "1)), 16, 10) as bigint)").as("px"))

  // ---- shared DuckDB CTE fragments (mirror the operators exactly) ----

  private val corpusCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, text || ' zq extra token' AS text
      |  FROM documents WHERE doc_id % 10 = 5)""".stripMargin

  /** Sequential replay of [[graft.operators.Dedup.substringSpans]] at
    * its defaults (window 16, winnowW 8, minSpan 40) over the
    * augmented corpus: per-POSITION rolling hashes via the
    * text_rolling_fingerprint recursive CTE (same base 1000003 /
    * 1000003^15 constants, HUGEINT mod 2^64 with the signed-BIGINT
    * reduction so min-comparisons match the engine's Long ordering),
    * rightmost-min winnowing selection per 8-window (argmin by
    * (h ASC, pos DESC) — the kernel's monotone-deque tie rule),
    * cross-doc join on hash + verified 16-byte substring, and the
    * same-delta gap-split merge into spans ≥ 40. Corpus is ASCII
    * (byte offsets == char offsets), so substr verifies the bytes the
    * engine's binary substring compares. */
  private lazy val substringSpansSql: String =
    s"""$substringSpansCtes
      |SELECT id_a, id_b, CAST(start_a AS INT) AS start_a,
      |       CAST(start_a - delta AS INT) AS start_b,
      |       CAST(end_a - start_a AS INT) AS span_len
      |FROM espans WHERE end_a - start_a >= 40
      |ORDER BY id_a, id_b, start_a, start_b""".stripMargin

  /** WITHIN-document repeated spans: the same winnowed chain with the
    * same-doc join (gap ≥ window, so matched windows are disjoint
    * occurrences), merged per (doc, delta) and byte-extended — the
    * replay of [[graft.operators.Dedup.substringSelfSpans]]. */
  private lazy val substringSelfSpansSql: String =
    s"""${substringFpCtesOver(substringSelfBody)},
      |m AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         a.pos AS pos_a, b.pos AS pos_b
      |  FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id = b.doc_id
      |    AND b.pos - a.pos >= 16
      |  JOIN corpus c ON c.doc_id = a.doc_id
      |  WHERE substr(c.text, a.pos + 1, 16) = substr(c.text, b.pos + 1, 16)),
      |$substringMergeCtes
      |SELECT id_a AS doc_id, CAST(start_a AS INT) AS start_first,
      |       CAST(start_a - delta AS INT) AS start_second,
      |       CAST(end_a - start_a AS INT) AS span_len
      |FROM espans WHERE end_a - start_a >= 40
      |ORDER BY doc_id, start_first, start_second""".stripMargin

  /** The REWRITE tail over the same span chain — keep-first-occurrence
    * dedup: every qualifying span's bytes cut from the HIGHER doc_id
    * (id_b) side, removal intervals merged per doc (gaps-and-islands),
    * text reassembled from the interval complement. A fully-covered
    * doc rebuilds to the empty string (all pieces empty), never falls
    * back to its original text. */
  private lazy val substringRewriteSql: String =
    s"""$substringSpansCtes,
      |$substringRemIdB,
      |$substringSurgeryTail""".stripMargin

  /** Rewrite with WITHIN-document repeats also cut
    * (`substringDedupCorpus(withinDoc = true)`): the matched frame
    * unifies the cross-doc and same-doc (gap ≥ window) cases — in
    * both, the cut side is (id_b, start_b), so the removal projection
    * and surgery tail are shared verbatim. */
  private lazy val substringRewriteSelfSql: String =
    s"""${substringFpCtesOver(substringSelfBody)},
      |m AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         a.pos AS pos_a, b.pos AS pos_b
      |  FROM sel a JOIN sel b ON a.h = b.h
      |  JOIN corpus ca ON ca.doc_id = a.doc_id
      |  JOIN corpus cb ON cb.doc_id = b.doc_id
      |  WHERE substr(ca.text, a.pos + 1, 16) = substr(cb.text, b.pos + 1, 16)
      |    AND (a.doc_id < b.doc_id
      |         OR (a.doc_id = b.doc_id AND b.pos - a.pos >= 16))),
      |$substringMergeCtes,
      |$substringRemIdB,
      |$substringSurgeryTail""".stripMargin

  /** Decontamination SCRUB replay
    * ([[graft.operators.Dedup.substringScrub]]): the cross-corpus
    * span chain's CORPUS-side extents become the removal intervals
    * and the same surgery tail rebuilds every corpus document. */
  private lazy val substringScrubSql: String =
    s"""$substringDecontamCtes,
      |rem AS (
      |  SELECT DISTINCT id_a AS doc_id, start_a AS rs, end_a AS re
      |  FROM espans WHERE end_a - start_a >= 40),
      |$substringSurgeryTail""".stripMargin

  /** Keep-first removal intervals — the (id_b, start_b) side of the
    * extended spans. For a same-doc pair id_b IS the doc and start_b
    * its LATER occurrence, so one projection serves the cross-doc and
    * withinDoc rewrites. */
  private lazy val substringRemIdB: String =
    """rem AS (
      |  SELECT DISTINCT id_b AS doc_id, start_a - delta AS rs,
      |         start_a - delta + (end_a - start_a) AS re
      |  FROM espans WHERE end_a - start_a >= 40)""".stripMargin

  /** Shared NB-model replay (the [[substringSurgeryTail]] discipline —
    * ONE text so the smoothing/quantization contract cannot diverge
    * across the three gated NB replays): per-(label, token) add-one
    * counts, per-label totals, corpus vocab, and doc-count priors,
    * every per-token term quantized to micro-units
    * (floor(ln·1e6 + 0.5)) and summed as BIGINT exactly like the
    * engine. [[nbScoreTail]] runs the scoring chain over a
    * caller-chosen token CTE (the trained-corpus `toks` for
    * resubstitution, an incoming-corpus CTE for the serves). */
  private lazy val nbModelCtes: String = nbModelCtesWhere("")

  /** [[nbModelCtes]] trained on a FILTERED corpus — the retraction
    * replay: text_nb_delete's oracle retrains without the deleted
    * batch's documents, which is exactly what dropping the batch
    * partition claims to equal. */
  private def nbModelCtesWhere(where: String): String =
    s"""docs AS (SELECT doc_id, source AS label, text
      |          FROM documents$where),
      |toks AS (SELECT doc_id, label,
      |           unnest(string_split(text, ' ')) AS tok FROM docs),
      |cwc AS (SELECT label, tok, count(*) AS c_lt FROM toks
      |        GROUP BY 1, 2),
      |ct AS (SELECT label, count(*) AS c_l FROM toks GROUP BY 1),
      |vocab AS (SELECT count(DISTINCT tok) AS v FROM toks),
      |pri AS (
      |  SELECT label,
      |         CAST(floor(ln(CAST(count(*) AS DOUBLE) /
      |           CAST((SELECT count(*) FROM docs) AS DOUBLE)) *
      |           1000000.0 + 0.5) AS BIGINT) AS prior_micro
      |  FROM docs GROUP BY label),
      |labels AS (SELECT DISTINCT label FROM docs)""".stripMargin

  private def nbScoreTail(tokCte: String): String =
    s"""terms AS (
      |  SELECT t.doc_id, l.label,
      |         CAST(floor(ln(CAST(coalesce(c.c_lt, 0) + 1 AS DOUBLE) /
      |           CAST(ct.c_l + v.v AS DOUBLE)) * 1000000.0 + 0.5)
      |           AS BIGINT) AS lp
      |  FROM $tokCte t
      |  CROSS JOIN labels l
      |  JOIN ct ON ct.label = l.label
      |  CROSS JOIN vocab v
      |  LEFT JOIN cwc c ON c.label = l.label AND c.tok = t.tok),
      |scores AS (
      |  SELECT s.doc_id, s.label, s.s + p.prior_micro AS score_micro
      |  FROM (SELECT doc_id, label, CAST(sum(lp) AS BIGINT) AS s
      |        FROM terms GROUP BY 1, 2) s
      |  JOIN pri p ON p.label = s.label),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score_micro DESC, label ASC) AS rnk FROM scores)""".stripMargin

  /** The byte-interval surgery tail shared by every rewrite replay
    * (cross-doc, withinDoc, scrub) — gaps-and-islands merge of `rem`,
    * complement pieces, reassembly, audit counts. One text so the
    * surgery contract cannot diverge across replays. No UTF-8 snap
    * CTE: the oracle corpus is ASCII (octet_length == length on every
    * doc), where the engine's codepoint snap is a 0-step no-op —
    * multibyte behavior is spec-pinned, not oracle-gated. */
  private lazy val substringSurgeryTail: String =
    """fl AS (
      |  SELECT *, CASE WHEN
      |      max(re) OVER (PARTITION BY doc_id ORDER BY rs, re
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |      OR rs > max(re) OVER (PARTITION BY doc_id ORDER BY rs, re
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    THEN 1 ELSE 0 END AS brk
      |  FROM rem),
      |isl AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY rs, re
      |    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM fl),
      |mgd AS (SELECT doc_id, island, min(rs) AS mrs, max(re) AS mre
      |        FROM isl GROUP BY 1, 2),
      |heads AS (
      |  SELECT doc_id,
      |         coalesce(lag(mre) OVER (PARTITION BY doc_id
      |           ORDER BY mrs), 0) AS pstart,
      |         mrs AS pend
      |  FROM mgd),
      |tails AS (
      |  SELECT m.doc_id, max(m.mre) AS pstart,
      |         octet_length(encode(c.text)) AS pend
      |  FROM mgd m JOIN corpus c USING (doc_id)
      |  GROUP BY m.doc_id, c.text),
      |pieces AS (SELECT * FROM heads UNION ALL SELECT * FROM tails),
      |rebuilt AS (
      |  SELECT p.doc_id,
      |         string_agg(substr(c.text, p.pstart + 1,
      |           p.pend - p.pstart), '' ORDER BY p.pstart) AS clean_text
      |  FROM pieces p JOIN corpus c USING (doc_id)
      |  GROUP BY p.doc_id),
      |cuts AS (SELECT doc_id, sum(mre - mrs) AS n_cut FROM mgd
      |         GROUP BY doc_id)
      |SELECT c.doc_id, coalesce(r.clean_text, c.text) AS clean_text,
      |       CAST(coalesce(k.n_cut, 0) AS BIGINT) AS n_cut
      |FROM corpus c
      |LEFT JOIN rebuilt r USING (doc_id)
      |LEFT JOIN cuts k USING (doc_id)
      |ORDER BY c.doc_id""".stripMargin

  private lazy val substringSpansCtes: String =
    s"""$substringFpCtes,
      |m AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         a.pos AS pos_a, b.pos AS pos_b
      |  FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
      |  JOIN corpus ca ON ca.doc_id = a.doc_id
      |  JOIN corpus cb ON cb.doc_id = b.doc_id
      |  WHERE substr(ca.text, a.pos + 1, 16) = substr(cb.text, b.pos + 1, 16)),
      |$substringMergeCtes""".stripMargin

  /** Cross-corpus (decontamination) span replay: the corpus side is
    * the full augmented corpus, the reference side is the ORIGINAL
    * documents slice doc_id % 25 = 0 — which appears verbatim inside
    * the corpus, so its per-doc fingerprints are exactly those ids'
    * `sel` rows (winnowing is per-document). No id ordering, no
    * same-id exclusion: a corpus doc that IS a reference doc is the
    * leak. */
  private lazy val substringDecontamSql: String =
    s"""$substringDecontamCtes
      |SELECT id_a AS doc_id, id_b AS ref_id,
      |       CAST(start_a AS INT) AS start,
      |       CAST(start_a - delta AS INT) AS ref_start,
      |       CAST(end_a - start_a AS INT) AS span_len
      |FROM espans WHERE end_a - start_a >= 40
      |ORDER BY doc_id, ref_id, start, ref_start""".stripMargin

  /** Shared chain of the decontam span and scrub replays, through
    * `espans`. */
  private lazy val substringDecontamCtes: String =
    s"""$substringFpCtes,
      |m AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         a.pos AS pos_a, b.pos AS pos_b
      |  FROM sel a
      |  JOIN (SELECT * FROM sel
      |        WHERE doc_id % 25 = 0 AND doc_id < 100000) b
      |    ON a.h = b.h
      |  JOIN corpus ca ON ca.doc_id = a.doc_id
      |  JOIN corpus cb ON cb.doc_id = b.doc_id
      |  WHERE substr(ca.text, a.pos + 1, 16) = substr(cb.text, b.pos + 1, 16)),
      |$substringMergeCtes""".stripMargin

  /** The same-delta gap-split merge tail (g/f/sg/spans/espans) over
    * whatever `m` frame precedes it — one text so the span replays
    * cannot diverge on the merge contract. `espans` is the byte
    * EXTENSION to the maximal shared boundary: each merged span
    * extends left/right while bytes at the same delta match, bounded
    * by winnowW − 1 = 7 per side (the winnowing margin bound — the
    * engine's bounded aggregate fold, replayed as a first-mismatch
    * scalar subquery over range(1, 8)). Downstream consumers read
    * `espans` and apply the minSpan filter to the EXTENDED length.
    * Both id sides join `corpus` for their bytes — in the decontam
    * chain the reference ids are corpus rows, so one join form
    * serves every replay. */
  private lazy val substringMergeCtes: String =
    """g AS (SELECT id_a, id_b, pos_a - pos_b AS delta, pos_a FROM m),
      |f AS (
      |  SELECT *, CASE WHEN
      |      lag(pos_a) OVER (PARTITION BY id_a, id_b, delta
      |                       ORDER BY pos_a) IS NULL
      |      OR pos_a - lag(pos_a) OVER (PARTITION BY id_a, id_b, delta
      |                                  ORDER BY pos_a) > 16
      |    THEN 1 ELSE 0 END AS brk
      |  FROM g),
      |sg AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY id_a, id_b, delta
      |    ORDER BY pos_a ROWS UNBOUNDED PRECEDING) AS span_id
      |  FROM f),
      |spans AS (
      |  SELECT id_a, id_b, delta, span_id, min(pos_a) AS start_a,
      |         max(pos_a) + 16 AS end_a
      |  FROM sg GROUP BY 1, 2, 3, 4),
      |espans AS (
      |  SELECT s.id_a, s.id_b, s.delta,
      |         s.start_a - coalesce((SELECT min(j) - 1 FROM range(1, 8) t(j)
      |           WHERE NOT (s.start_a - j >= 0 AND s.start_a - s.delta - j >= 0
      |             AND substr(ca.text, s.start_a - j + 1, 1)
      |               = substr(cb.text, s.start_a - s.delta - j + 1, 1))), 7)
      |           AS start_a,
      |         s.end_a + coalesce((SELECT min(j) - 1 FROM range(1, 8) t(j)
      |           WHERE NOT (s.end_a + j <= octet_length(encode(ca.text))
      |             AND s.end_a - s.delta + j <= octet_length(encode(cb.text))
      |             AND substr(ca.text, s.end_a + j, 1)
      |               = substr(cb.text, s.end_a - s.delta + j, 1))), 7)
      |           AS end_a
      |  FROM spans s
      |  JOIN corpus ca ON ca.doc_id = s.id_a
      |  JOIN corpus cb ON cb.doc_id = s.id_b)""".stripMargin

  /** Shared head of the span replays, through the winnowing-selected
    * per-position fingerprints (`sel`). */
  private lazy val substringFpCtes: String =
    substringFpCtesOver(substringAugBody)

  private lazy val substringAugBody: String =
    """  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, text || ' zq extra token' AS text
      |  FROM documents WHERE doc_id % 10 = 5""".stripMargin

  /** The augmented corpus with WITHIN-document repeats injected: every
    * doc_id % 7 = 3 document re-appends its own first 80 bytes — the
    * known positive the selfspans/rewrite-withinDoc rows need (the
    * synthetic corpus has no natural ≥ 40-byte self-repeats).
    * Mirrored by [[selfRepeatCorpus]] on the Spark side. */
  private lazy val substringSelfBody: String =
    s"""  SELECT doc_id, CASE WHEN doc_id % 7 = 3
      |    THEN text || ' ' || substr(text, 1, 80) ELSE text END AS text
      |  FROM (
      |$substringAugBody)""".stripMargin

  private def substringFpCtesOver(corpusBody: String): String =
    s"""WITH RECURSIVE corpus AS (
      |$corpusBody),
      |src AS (
      |  SELECT doc_id,
      |         list_transform(range(1, octet_length(encode(text)) + 1),
      |           j -> (strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*j-1, 1)) - 1) * 16
      |              + (strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*j, 1)) - 1)) AS bs,
      |         octet_length(encode(text)) AS n
      |  FROM corpus),
      |roll(doc_id, i, h, n, bs) AS (
      |  SELECT doc_id, 0, 0::HUGEINT, n, bs FROM src
      |  UNION ALL
      |  SELECT doc_id, i + 1,
      |    CASE WHEN i < 16
      |      THEN (h * 1000003 + bs[i+1]) % 18446744073709551616::HUGEINT
      |      ELSE (((h - bs[i-15] * 6397295411589846571::HUGEINT)
      |              % 18446744073709551616::HUGEINT
      |              + 18446744073709551616::HUGEINT)
      |             % 18446744073709551616::HUGEINT * 1000003
      |            + bs[i+1]) % 18446744073709551616::HUGEINT
      |    END,
      |    n, bs
      |  FROM roll WHERE i < n),
      |hp AS (
      |  SELECT doc_id, i - 16 AS pos,
      |         CASE WHEN h >= 9223372036854775808::HUGEINT
      |              THEN (h - 18446744073709551616::HUGEINT)::BIGINT
      |              ELSE h::BIGINT END AS h
      |  FROM roll WHERE i >= 16),
      |ts AS (SELECT doc_id, unnest(generate_series(0, n - 16 + 1 - 8)) AS t
      |       FROM src),
      |selw AS (
      |  SELECT hh.doc_id, tt.t, hh.pos, hh.h,
      |         row_number() OVER (PARTITION BY hh.doc_id, tt.t
      |           ORDER BY hh.h, hh.pos DESC) AS rn
      |  FROM hp hh JOIN ts tt ON tt.doc_id = hh.doc_id
      |    AND hh.pos BETWEEN tt.t AND tt.t + 7),
      |sel AS (SELECT DISTINCT doc_id, pos, h FROM selw WHERE rn = 1)""".stripMargin

  private val shinglesCte =
    """wrd AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM corpus
      |  WHERE len(string_split(text, ' ')) >= 3),
      |idx AS (
      |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM wrd),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |  FROM idx)""".stripMargin

  private val lshCte =
    """mh AS (
      |  SELECT doc_id,
      |         min(md5('1:' || shingle)) AS h1, min(md5('2:' || shingle)) AS h2,
      |         min(md5('3:' || shingle)) AS h3, min(md5('4:' || shingle)) AS h4,
      |         min(md5('5:' || shingle)) AS h5, min(md5('6:' || shingle)) AS h6
      |  FROM sh GROUP BY doc_id),
      |buckets AS (
      |  SELECT doc_id, 'b1:' || h1 || h2 AS bucket FROM mh
      |  UNION ALL SELECT doc_id, 'b2:' || h3 || h4 FROM mh
      |  UNION ALL SELECT doc_id, 'b3:' || h5 || h6 FROM mh),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM buckets a JOIN buckets b
      |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  /** v2 signature family (one md5 per shingle + Kirsch–Mitzenmacher
    * affine permutations mod 2⁶⁴ — see
    * [[graft.functions.MinHashSigsV2]]). Hex-literal UBIGINT casts and
    * HUGEINT mod-2⁶⁴ are the version-stable DuckDB surfaces; the final
    * CASE reinterprets the unsigned min as Spark's signed BIGINT. */
  private val lshV2Cte =
    """hsh AS (
      |  SELECT doc_id,
      |         CAST('0x' || substr(md5(shingle), 1, 16) AS UBIGINT) AS p1,
      |         CAST('0x' || substr(md5(shingle), 17, 16) AS UBIGINT) AS p2
      |  FROM sh),
      |ks AS (SELECT unnest(generate_series(1, 6)) AS k),
      |sigm AS (
      |  SELECT doc_id, k,
      |         min((CAST(p1 AS HUGEINT) + k * CAST(p2 AS HUGEINT))
      |             % 18446744073709551616) AS m
      |  FROM hsh CROSS JOIN ks GROUP BY doc_id, k),
      |sgn AS (
      |  SELECT doc_id, k,
      |         CAST(CASE WHEN m >= 9223372036854775808
      |              THEN m - 18446744073709551616 ELSE m END AS BIGINT) AS s
      |  FROM sigm),
      |sigp AS (
      |  SELECT doc_id,
      |         max(CASE WHEN k = 1 THEN s END) AS h1,
      |         max(CASE WHEN k = 2 THEN s END) AS h2,
      |         max(CASE WHEN k = 3 THEN s END) AS h3,
      |         max(CASE WHEN k = 4 THEN s END) AS h4,
      |         max(CASE WHEN k = 5 THEN s END) AS h5,
      |         max(CASE WHEN k = 6 THEN s END) AS h6
      |  FROM sgn GROUP BY doc_id)""".stripMargin

  /** v2 banding + candidate pairs (3 bands × 2 rows, `|`-separated —
    * decimal BIGINT renderings are variable-width). The `buckets` /
    * `cand` names mirror [[lshCte]]'s so downstream oracle SQL swaps
    * families by swapping one CTE block. */
  private val lshV2CandCte =
    s"""$lshV2Cte,
       |buckets AS (
       |  SELECT doc_id, 'b1:|' || h1 || '|' || h2 AS bucket FROM sigp
       |  UNION ALL SELECT doc_id, 'b2:|' || h3 || '|' || h4 FROM sigp
       |  UNION ALL SELECT doc_id, 'b3:|' || h5 || '|' || h6 FROM sigp),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  private val vecsCte =
    """vecs AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, label, embedding::DOUBLE[] AS v
      |  FROM embeddings WHERE vec_id % 10 = 0)""".stripMargin

  private val ovecsCte =
    """ovecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)""".stripMargin

  /** Hybrid-retrieval fusion chain through the RRF-scored candidate set
    * (`fused`): lexical overlap ranks (top-20/probe) ⊕ cosine ranks
    * (top-20/probe) full-outer-joined, probes = ids < 10. Shared by the
    * sim_hybrid_rrf and sim_rrf_diverse oracles. Defined via a def
    * because it references [[cosSql]]. */
  private def rrfFusedCte: String =
    s"""$ovecsCte,
       |dt AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |pt AS (SELECT doc_id AS probe_id, term FROM dt WHERE doc_id < 10),
       |ov AS (
       |  SELECT p.probe_id, d.doc_id, count(*) AS n_shared
       |  FROM pt p JOIN dt d USING (term)
       |  WHERE d.doc_id <> p.probe_id
       |  GROUP BY p.probe_id, d.doc_id),
       |lr0 AS (
       |  SELECT probe_id, doc_id, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY n_shared DESC, doc_id) AS rank_lex
       |  FROM ov),
       |lr AS (SELECT * FROM lr0 WHERE rank_lex <= 20),
       |probes AS (SELECT vec_id AS probe_id, v AS pv FROM ovecs WHERE vec_id < 10),
       |scored AS (
       |  SELECT probe_id, o.vec_id AS doc_id,
       |         round(${cosSql("pv", "o.v")}, 6) AS cos_r
       |  FROM probes, ovecs o WHERE probe_id <> o.vec_id),
       |vr0 AS (
       |  SELECT probe_id, doc_id, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY cos_r DESC, doc_id) AS rank_vec
       |  FROM scored),
       |vr AS (SELECT * FROM vr0 WHERE rank_vec <= 20),
       |fused AS (
       |  SELECT coalesce(l.probe_id, v.probe_id) AS probe_id,
       |         coalesce(l.doc_id, v.doc_id) AS doc_id,
       |         l.rank_lex, v.rank_vec,
       |         round(coalesce(1.0 / CAST(60 + l.rank_lex AS DOUBLE), 0.0) +
       |               coalesce(1.0 / CAST(60 + v.rank_vec AS DOUBLE), 0.0),
       |               6) AS rrf
       |  FROM lr l FULL OUTER JOIN vr v
       |    ON l.probe_id = v.probe_id AND l.doc_id = v.doc_id)""".stripMargin

  /** Power-iteration PCA chain through the round-2 direction `v2`
    * (one-row list `pv`): exact-decimal means → centered lists → two
    * (score → contract → normalize) rounds, every published vector
    * 6-dp rounded — the sequential replay of
    * [[graft.operators.Similarity.pcaPower]]. Shared by the
    * sim_pca_power and sim_pca_residual oracles. */
  private def pcaChainCte: String =
    s"""$ovecsCte,
       |dims AS (
       |  SELECT vec_id, unnest(v) AS x,
       |         unnest(generate_series(1, len(v))) AS pos
       |  FROM ovecs),
       |mu AS (
       |  SELECT pos, round(CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
       |              / count(*), 6) AS mu
       |  FROM dims GROUP BY pos),
       |muv AS (SELECT list(mu ORDER BY pos) AS mus FROM mu),
       |cent AS (
       |  SELECT vec_id,
       |         list_transform(generate_series(1, len(v)),
       |                        i -> v[i] - mus[i]) AS xc
       |  FROM ovecs CROSS JOIN muv),
       |v0 AS (
       |  SELECT list_transform(generate_series(1, len(mus)),
       |                        i -> round(1.0 / sqrt(len(mus)), 6)) AS pv
       |  FROM muv),
       |s1 AS (SELECT vec_id, xc, list_dot_product(xc, pv) AS s
       |       FROM cent CROSS JOIN v0),
       |w1 AS (
       |  SELECT pos, round(CAST(sum(CAST(s * x AS DECIMAL(38,18)))
       |              AS DOUBLE), 6) AS w
       |  FROM (SELECT s, unnest(xc) AS x,
       |               unnest(generate_series(1, len(xc))) AS pos FROM s1)
       |  GROUP BY pos),
       |n1 AS (SELECT CAST(sum(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE) AS n2
       |       FROM w1),
       |v1 AS (SELECT list(round(w / sqrt(n2), 6) ORDER BY pos) AS pv
       |       FROM w1 CROSS JOIN n1),
       |s2 AS (SELECT vec_id, xc, list_dot_product(xc, pv) AS s
       |       FROM cent CROSS JOIN v1),
       |w2 AS (
       |  SELECT pos, round(CAST(sum(CAST(s * x AS DECIMAL(38,18)))
       |              AS DOUBLE), 6) AS w
       |  FROM (SELECT s, unnest(xc) AS x,
       |               unnest(generate_series(1, len(xc))) AS pos FROM s2)
       |  GROUP BY pos),
       |n2c AS (SELECT CAST(sum(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE) AS n2
       |        FROM w2),
       |v2 AS (SELECT list(round(w / sqrt(n2), 6) ORDER BY pos) AS pv
       |       FROM w2 CROSS JOIN n2c)""".stripMargin

  /** Sequential replay of kmeans-trained IVF search (k=3, nprobe=2,
    * probes = vec_id < 15) — shared by sim_ivf_kmeans and the
    * persisted-index twin sim_ivf_persist, whose parquet round-trip is
    * exact for doubles. */
  private lazy val ivfKmeansSearchSql: String = ivfKmeansSearchSqlWhere("")

  /** Sequential replay of the SQ8 serve (same trained cells / probe
    * set as the IVF family, MIPS scoring over per-vector-scaled int8
    * codes): quantize every corpus vector symmetric-int8 (scale =
    * max|x|/127, round-half-away per dim — exactly sim_quantize_int8's
    * formula), then score round(scale · ⟨p, q⟩, 6) within the probed
    * cells. Shared by the persist/append twins (empty predicate; the
    * quantizer trains on the full corpus and the scale is per-vector,
    * so build+append ≡ monolithic) and sim_sq8_delete (index-side
    * exclusion). */
  private def ivfSq8SearchSqlWhere(idxPred: String): String =
    s"""${ivfSq8ScoredCte(idxPred)},
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY ip_r DESC, neighbor_id) AS rnk FROM scored)
       |SELECT probe_id, neighbor_id, ip_r, rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin

  /** The SQ8 replay's RANGE tail: same trained cells, probe set and
    * scored frame, thresholded (ip_r ≥ 0.2) instead of ranked — the
    * [[ivfKmeansRangeSql]] contract on the layout's own asymmetric
    * inner-product score. */
  private def ivfSq8RangeSql: String =
    s"""${ivfSq8ScoredCte("")}
       |SELECT probe_id, neighbor_id, ip_r FROM scored
       |WHERE ip_r >= 0.2 ORDER BY probe_id, neighbor_id""".stripMargin

  /** Shared WITH-chain of the SQ8 replays, through the `scored` frame
    * (trained cells, probes vec_id < 15 at nprobe 2, per-vector-scale
    * int8 codes, round(scale·⟨p,q⟩, 6)) — one definition so the top-k
    * and range tails cannot diverge. */
  private def ivfSq8ScoredCte(idxPred: String): String =
    s"""WITH $ovecsCte,
       |$kmeansCte,
       |di AS (
       |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
       |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
       |dir AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
       |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dir
       |        WHERE rn = 1 $idxPred),
       |pas AS (SELECT vec_id AS probe_id, cid AS cell FROM dir
       |        WHERE vec_id < 15 AND rn <= 2),
       |sc AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |       FROM ovecs),
       |codes AS (SELECT vec_id, scale,
       |            list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
       |              ELSE round(x / scale) END) AS q
       |          FROM sc),
       |scored AS (
       |  SELECT a.probe_id, o.vec_id AS neighbor_id,
       |         round(o.scale * list_dot_product(p.v, o.q), 6) AS ip_r
       |  FROM pas a JOIN ovecs p ON p.vec_id = a.probe_id
       |  JOIN idx i ON i.cell = a.cell
       |  JOIN codes o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id)""".stripMargin

  private def imiSearchSqlWhere(idxPred: String): String =
    s"""${imiSearchCtes(idxPred)},
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM scored)
       |SELECT probe_id, l0, l1, neighbor_id, cos_r, rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin

  /** Range-mode final over the same CTEs — all neighbors in the
    * probed pairs with cos >= tau, no ranking window (the Scala
    * side's searchImiIndexRange contract). */
  private def imiRangeSql(tau: Double): String =
    s"""${imiSearchCtes("")}
       |SELECT probe_id, l0, l1, neighbor_id, cos_r FROM scored
       |WHERE cos_r >= $tau ORDER BY probe_id, neighbor_id""".stripMargin

  /** Shared WITH-chain of the label-codebook IMI replays, ending in
    * `scored` (probe, pair, neighbor, rounded cosine). */
  private def imiSearchCtes(idxPred: String): String =
    s"""WITH vecsl AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |dims0 AS (
       |  SELECT vec_id, label, len(v) // 2 AS hf, unnest(v) AS x,
       |         unnest(generate_series(1, len(v))) AS pos
       |  FROM vecsl),
       |sdims AS (
       |  SELECT vec_id, label, x, pos,
       |         CASE WHEN pos <= hf THEN 0 ELSE 1 END AS sub
       |  FROM dims0),
       |cents AS (
       |  SELECT sub, label AS clabel, pos, avg(x) AS cmean
       |  FROM sdims GROUP BY sub, label, pos),
       |d2 AS (
       |  SELECT s.vec_id, s.sub, c.clabel,
       |         round(sum((s.x - c.cmean) * (s.x - c.cmean)), 6) AS d2r
       |  FROM sdims s JOIN cents c ON c.sub = s.sub AND c.pos = s.pos
       |  GROUP BY s.vec_id, s.sub, c.clabel),
       |best AS (
       |  SELECT vec_id, sub, clabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY d2r, clabel) AS rn FROM d2)
       |  WHERE rn = 1),
       |idx AS (
       |  SELECT b0.vec_id, b0.clabel AS c0, b1.clabel AS c1
       |  FROM best b0 JOIN best b1 USING (vec_id)
       |  WHERE b0.sub = 0 AND b1.sub = 1 $idxPred),
       |passign AS (
       |  SELECT probe_id, l0, l1 FROM (
       |    SELECT p0.vec_id AS probe_id, p0.clabel AS l0,
       |           p1.clabel AS l1,
       |           row_number() OVER (PARTITION BY p0.vec_id
       |             ORDER BY p0.d2r + p1.d2r, p0.clabel, p1.clabel) AS rn
       |    FROM d2 p0 JOIN d2 p1
       |      ON p0.vec_id = p1.vec_id AND p0.sub = 0 AND p1.sub = 1
       |    WHERE p0.vec_id < 15)
       |  WHERE rn <= 2),
       |probes AS (
       |  SELECT vec_id AS probe_id, v AS pv FROM vecsl WHERE vec_id < 15),
       |scored AS (
       |  SELECT a.probe_id, a.l0, a.l1, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.pv", "o.v")}, 6) AS cos_r
       |  FROM passign a JOIN probes p USING (probe_id)
       |  JOIN idx i ON i.c0 = a.l0 AND i.c1 = a.l1
       |    AND i.vec_id <> a.probe_id
       |  JOIN vecsl o ON o.vec_id = i.vec_id)""".stripMargin

  /** Sequential replay of the Multi-D-ADC + refine composition
    * ([[graft.operators.Similarity.imiPqTopK]] at its defaults: m=4,
    * codebookK=8, nprobe=2, rerankDepth=40, probes = vec_id < 10,
    * k=5) over the label half-codebooks: the [[imiSearchCtes]] cell
    * chain, residuals against the CONCATENATED pair centroid
    * (first-half list indexed at j, second-half at j − hf), residual
    * codebook = the first 8 vectors' residual subvectors, a distance
    * table per (probe, probed pair), ADC restricted to the probed
    * pairs (pair keys equal on both sides), and the depth-40
    * shortlist re-ranked with exact 6-dp cosine. */
  private lazy val imiPqSearchSql: String = imiPqSearchSqlWhere("")

  /** [[imiPqSearchSql]] with a predicate scoping the LIVE code rows —
    * the delete/compact legs' oracle hook (tombstoned ids mask from
    * the code table BEFORE the ADC shortlist, probes untouched), the
    * filtered leg's metadata predicate (the stored code rows carry
    * the metadata since fmt 2 — the replay joins it back from vecsl
    * as `lv`, the same rows the layout persists beside the codes),
    * and the persisted twins share the empty-predicate replay
    * (parquet round-trips the codebooks and codes exactly, so the
    * persisted serve is bit-identical to the in-memory one). */
  private def imiPqSearchSqlWhere(codePred: String,
      depthSql: String = "40"): String =
    s"""${imiPqChainCtes(codePred, depthSql)},
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY cos_r DESC, neighbor_id) AS rnk
       |  FROM rr)
       |SELECT probe_id, neighbor_id, cos_r, CAST(rnk AS INTEGER) AS rnk
       |FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** Range-mode final over the same Multi-D-ADC chain — ADC gates the
    * depth-40 shortlist, the EXACT refined cosine applies the radius
    * (the Scala side's searchImiPqIndexRange contract: only
    * shortlisted neighbors can pass). */
  private def imiPqRangeSql(tau: Double): String =
    s"""${imiPqChainCtes("")}
       |SELECT probe_id, neighbor_id, cos_r FROM rr
       |WHERE cos_r >= $tau ORDER BY probe_id, neighbor_id""".stripMargin

  /** Shared WITH-chain of the Multi-D-ADC replays, ending in `rr`
    * (probe, shortlisted neighbor, exact 6-dp refined cosine). */
  private def imiPqChainCtes(codePred: String,
      depthSql: String = "40"): String =
    s"""WITH vecsl AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |dims0 AS (
       |  SELECT vec_id, label, len(v) // 2 AS hf, unnest(v) AS x,
       |         unnest(generate_series(1, len(v))) AS pos
       |  FROM vecsl),
       |sdims AS (
       |  SELECT vec_id, label, x, pos,
       |         CASE WHEN pos <= hf THEN 0 ELSE 1 END AS sub
       |  FROM dims0),
       |cents AS (
       |  SELECT sub, label AS clabel, pos, avg(x) AS cmean
       |  FROM sdims GROUP BY sub, label, pos),
       |d2 AS (
       |  SELECT s.vec_id, s.sub, c.clabel,
       |         round(sum((s.x - c.cmean) * (s.x - c.cmean)), 6) AS d2r
       |  FROM sdims s JOIN cents c ON c.sub = s.sub AND c.pos = s.pos
       |  GROUP BY s.vec_id, s.sub, c.clabel),
       |best AS (
       |  SELECT vec_id, sub, clabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY d2r, clabel) AS rn FROM d2)
       |  WHERE rn = 1),
       |idx AS (
       |  SELECT b0.vec_id, b0.clabel AS c0, b1.clabel AS c1
       |  FROM best b0 JOIN best b1 USING (vec_id)
       |  WHERE b0.sub = 0 AND b1.sub = 1),
       |passign AS (
       |  SELECT probe_id, l0, l1 FROM (
       |    SELECT p0.vec_id AS probe_id, p0.clabel AS l0,
       |           p1.clabel AS l1,
       |           row_number() OVER (PARTITION BY p0.vec_id
       |             ORDER BY p0.d2r + p1.d2r, p0.clabel, p1.clabel) AS rn
       |    FROM d2 p0 JOIN d2 p1
       |      ON p0.vec_id = p1.vec_id AND p0.sub = 0 AND p1.sub = 1
       |    WHERE p0.vec_id < 10)
       |  WHERE rn <= 2),
       |cl AS (SELECT sub, clabel, list(cmean ORDER BY pos) AS cvv
       |       FROM cents GROUP BY sub, clabel),
       |subsp AS (SELECT unnest(generate_series(0, 3)) AS sub),
       |rcorp AS (
       |  SELECT o.vec_id, i.c0, i.c1,
       |         list_transform(generate_series(1, len(o.v)), j ->
       |           o.v[j] - CASE WHEN j <= len(o.v) // 2
       |             THEN l0.cvv[j]
       |             ELSE l1.cvv[j - len(o.v) // 2] END) AS rv
       |  FROM vecsl o JOIN idx i ON i.vec_id = o.vec_id
       |  JOIN cl l0 ON l0.sub = 0 AND l0.clabel = i.c0
       |  JOIN cl l1 ON l1.sub = 1 AND l1.clabel = i.c1),
       |rsubs AS (
       |  SELECT vec_id, c0, c1, sub,
       |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
       |  FROM rcorp CROSS JOIN subsp),
       |cb AS (SELECT sub, vec_id AS cid, sv AS cv FROM rsubs
       |       WHERE vec_id < 8),
       |dq AS (
       |  SELECT a.vec_id, a.c0, a.c1, a.sub, cb.cid,
       |         list_dot_product(a.sv, a.sv)
       |           - 2.0 * list_dot_product(a.sv, cb.cv)
       |           + list_dot_product(cb.cv, cb.cv) AS dist2
       |  FROM rsubs a JOIN cb USING (sub)),
       |pqcodes AS (
       |  SELECT vec_id, c0, c1, sub, cid FROM (
       |    SELECT vec_id, c0, c1, sub, cid, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY round(dist2, 6), cid) AS rn
       |    FROM dq) WHERE rn = 1),
       |rprob AS (
       |  SELECT a.probe_id, a.l0, a.l1,
       |         list_transform(generate_series(1, len(p.v)), j ->
       |           p.v[j] - CASE WHEN j <= len(p.v) // 2
       |             THEN l0.cvv[j]
       |             ELSE l1.cvv[j - len(p.v) // 2] END) AS rv
       |  FROM passign a JOIN vecsl p ON p.vec_id = a.probe_id
       |  JOIN cl l0 ON l0.sub = 0 AND l0.clabel = a.l0
       |  JOIN cl l1 ON l1.sub = 1 AND l1.clabel = a.l1),
       |psubs AS (
       |  SELECT probe_id, l0, l1, sub,
       |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
       |  FROM rprob CROSS JOIN subsp),
       |ptab AS (
       |  SELECT p.probe_id, p.l0, p.l1, p.sub, cb.cid,
       |         list_dot_product(p.sv, p.sv)
       |           - 2.0 * list_dot_product(p.sv, cb.cv)
       |           + list_dot_product(cb.cv, cb.cv) AS pd2
       |  FROM psubs p JOIN cb USING (sub)),
       |live AS (SELECT p.* FROM pqcodes p JOIN vecsl lv USING (vec_id)
       |         $codePred),
       |sc AS (
       |  SELECT t.probe_id, c.vec_id,
       |         CAST(CAST(sum(CAST(round(t.pd2, 6) AS DECIMAL(18,6)))
       |              AS DECIMAL(38,6)) AS DOUBLE) AS adist
       |  FROM live c JOIN ptab t
       |    ON t.sub = c.sub AND t.cid = c.cid
       |    AND t.l0 = c.c0 AND t.l1 = c.c1
       |  WHERE t.probe_id <> c.vec_id
       |  GROUP BY t.probe_id, c.vec_id),
       |short AS (
       |  SELECT probe_id, vec_id AS neighbor_id FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY probe_id ORDER BY adist, vec_id) AS srnk FROM sc)
       |  WHERE srnk <= ($depthSql)),
       |rr AS (
       |  SELECT s.probe_id, s.neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM short s JOIN vecsl p ON p.vec_id = s.probe_id
       |  JOIN vecsl o ON o.vec_id = s.neighbor_id)""".stripMargin

  /** The trained-IVF search replay with an optional extra predicate on
    * the INDEX side (`AND ...` fragment over `vec_id`) — shared by the
    * build/persist/append twins (empty predicate) and sim_ivf_delete
    * (tombstoned ids excluded from the index, probes untouched). */
  private def ivfKmeansSearchSqlWhere(idxPred: String): String =
    s"""WITH $ovecsCte,
       |$kmeansCte,
       |di AS (
       |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
       |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
       |dir AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
       |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dir
       |        WHERE rn = 1 $idxPred),
       |pas AS (SELECT vec_id AS probe_id, cid AS cell FROM dir
       |        WHERE vec_id < 15 AND rn <= 2),
       |scored AS (
       |  SELECT a.probe_id, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM pas a JOIN ovecs p ON p.vec_id = a.probe_id
       |  JOIN idx i ON i.cell = a.cell
       |  JOIN ovecs o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM scored)
       |SELECT probe_id, neighbor_id, cos_r, rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin

  /** BQ replay: identical sign-bit packing into two positive BIGINT
    * halves, XOR+popcount Hamming shortlist, exact-cosine re-rank —
    * shared by the corpus-scan, persisted and append twins (BIGINT
    * codes round-trip parquet exactly; append rows are per-vector).
    * `idxPred` is the index-side lifecycle hook (an `AND …` fragment
    * over `c.vec_id`): empty for the scan/persist/append twins, the
    * tombstone exclusion for sim_bq_delete — applied in the Hamming
    * CTE, BEFORE the shortlist ranks, exactly where the serve's
    * anti-join masks (probes are never filtered: deleting a vector
    * retracts candidates, not queries).
    */
  private def bqRerankSql: String = bqRerankSqlWhere("")

  private def bqRerankSqlWhere(idxPred: String): String =
    s"""${bqChainCtes(idxPred)},
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
       |  ORDER BY cos_r DESC, neighbor_id) AS rnk FROM rr)
       |SELECT probe_id, neighbor_id, ham, cos_r, rnk
       |FROM ranked WHERE rnk <= 3
       |ORDER BY probe_id, rnk""".stripMargin

  /** Range-mode final over the flat-BQ chain — Hamming gates the
    * shortlist, the EXACT refined cosine applies the radius. */
  private def bqRangeSql(tau: Double): String =
    s"""${bqChainCtes("")}
       |SELECT probe_id, neighbor_id, cos_r FROM rr
       |WHERE cos_r >= $tau ORDER BY probe_id, neighbor_id""".stripMargin

  /** Shared WITH-chain of the flat-BQ replays, ending in `rr`. */
  private def bqChainCtes(idxPred: String): String =
    s"""WITH $ovecsCte,
       |codes AS (SELECT vec_id,
       |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
       |    CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 1))
       |         ELSE 0::BIGINT END)) AS BIGINT) AS code0,
       |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
       |    CASE WHEN v[i + 32] >= 0 THEN (1::BIGINT << (i - 1))
       |         ELSE 0::BIGINT END)) AS BIGINT) AS code1
       |  FROM ovecs),
       |probes AS (SELECT vec_id AS probe_id, code0 AS p0, code1 AS p1
       |           FROM codes WHERE vec_id < 10),
       |ham AS (SELECT probe_id, c.vec_id AS neighbor_id,
       |          CAST(bit_count(xor(p0, c.code0)) +
       |               bit_count(xor(p1, c.code1)) AS INTEGER) AS ham
       |        FROM probes, codes c WHERE c.vec_id <> probe_id $idxPred),
       |short AS (SELECT probe_id, neighbor_id, ham FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY ham, neighbor_id) AS hrnk FROM ham)
       |  WHERE hrnk <= 20),
       |rr AS (SELECT s.probe_id, s.neighbor_id, s.ham,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |       FROM short s JOIN ovecs p ON p.vec_id = s.probe_id
       |       JOIN ovecs o ON o.vec_id = s.neighbor_id)""".stripMargin

  /** CELL-BLOCKED BQ replay (the IVF composition of the BQ rung):
    * same sign-bit packing and Hamming/re-rank contracts as
    * [[bqRerankSqlWhere]], but candidates come only from the probe's
    * 2 nearest trained cells — the recall bound every IVF serve
    * carries, here applied to the 16-byte code scan. `idxPred` is
    * the tombstone-exclusion hook over `c.vec_id` (probes never
    * filter). */
  private def ivfBqSqlWhere(idxPred: String): String =
    s"""${ivfBqChainCtes(idxPred)},
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
       |  ORDER BY cos_r DESC, neighbor_id) AS rnk FROM rr)
       |SELECT probe_id, neighbor_id, ham, cos_r, rnk
       |FROM ranked WHERE rnk <= 3
       |ORDER BY probe_id, rnk""".stripMargin

  /** Range-mode final over the same IVF-BQ chain — Hamming gates the
    * shortlist, the EXACT refined cosine applies the radius (the
    * Scala side's searchIvfBqIndexRange contract). */
  private def ivfBqRangeSql(tau: Double): String =
    s"""${ivfBqChainCtes("")}
       |SELECT probe_id, neighbor_id, cos_r FROM rr
       |WHERE cos_r >= $tau ORDER BY probe_id, neighbor_id""".stripMargin

  /** Shared WITH-chain of the IVF-BQ replays, ending in `rr` (probe,
    * shortlisted neighbor, ham, exact 6-dp refined cosine). */
  private def ivfBqChainCtes(idxPred: String): String =
    s"""WITH $ovecsCte,
       |$kmeansCte,
       |di AS (
       |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
       |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
       |dir AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
       |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dir
       |        WHERE rn = 1),
       |pas AS (SELECT vec_id AS probe_id, cid AS cell FROM dir
       |        WHERE vec_id < 10 AND rn <= 2),
       |bcodes AS (SELECT vec_id,
       |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
       |    CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 1))
       |         ELSE 0::BIGINT END)) AS BIGINT) AS code0,
       |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
       |    CASE WHEN v[i + 32] >= 0 THEN (1::BIGINT << (i - 1))
       |         ELSE 0::BIGINT END)) AS BIGINT) AS code1
       |  FROM ovecs),
       |bprobes AS (SELECT vec_id AS probe_id, code0 AS p0, code1 AS p1
       |            FROM bcodes WHERE vec_id < 10),
       |ham AS (SELECT p.probe_id, c.vec_id AS neighbor_id,
       |          CAST(bit_count(xor(p0, c.code0)) +
       |               bit_count(xor(p1, c.code1)) AS INTEGER) AS ham
       |        FROM pas a
       |        JOIN bprobes p ON p.probe_id = a.probe_id
       |        JOIN idx i ON i.cell = a.cell
       |        JOIN bcodes c ON c.vec_id = i.corpus_id
       |         AND c.vec_id <> p.probe_id $idxPred),
       |short AS (SELECT probe_id, neighbor_id, ham FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY ham, neighbor_id) AS hrnk FROM ham)
       |  WHERE hrnk <= 20),
       |rr AS (SELECT s.probe_id, s.neighbor_id, s.ham,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |       FROM short s JOIN ovecs p ON p.vec_id = s.probe_id
       |       JOIN ovecs o ON o.vec_id = s.neighbor_id)""".stripMargin

  /** Recall-LADDER replay: every compression rung's top-3 (probes =
    * vec_id < 10, nprobe = 2, each rung's OWN scoring — cosine for
    * flat IVF, asymmetric MIPS for SQ8, ADC L2² for PQ, Hamming
    * shortlist + exact re-rank for BQ) intersected with the exact
    * brute-force cosine top-3 on the same probes; output is the
    * integer overlap count per (layout, probe). All IVF-family rungs
    * share ONE trained-cell frame (di/dir/idx/pas — the same kmeans
    * the per-rung replays use), so the ladder measures the
    * quantization rungs, not quantizer drift. The artifact a
    * deployment reads to choose a rung: every serve is deterministic,
    * so recall is oracle-able as exact integers — no sampling, no
    * tolerance. */
  private def recallLadderSql: String =
    s"""WITH $ovecsCte,
       |$kmeansCte,
       |di AS (
       |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
       |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
       |dir AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
       |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dir WHERE rn = 1),
       |pas AS (SELECT vec_id AS probe_id, cid AS cell FROM dir
       |        WHERE vec_id < 10 AND rn <= 2),
       |bfs AS (
       |  SELECT p.vec_id AS probe_id, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM ovecs p, ovecs o
       |  WHERE p.vec_id < 10 AND o.vec_id <> p.vec_id),
       |bf AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM bfs)
       |  WHERE rnk <= 3),
       |ivfs AS (
       |  SELECT a.probe_id, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM pas a JOIN ovecs p ON p.vec_id = a.probe_id
       |  JOIN idx i ON i.cell = a.cell
       |  JOIN ovecs o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id),
       |ivf AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM ivfs)
       |  WHERE rnk <= 3),
       |sq AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |       FROM ovecs),
       |sqc AS (SELECT vec_id, scale,
       |          list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
       |            ELSE round(x / scale) END) AS q
       |        FROM sq),
       |sq8s AS (
       |  SELECT a.probe_id, o.vec_id AS neighbor_id,
       |         round(o.scale * list_dot_product(p.v, o.q), 6) AS ip_r
       |  FROM pas a JOIN ovecs p ON p.vec_id = a.probe_id
       |  JOIN idx i ON i.cell = a.cell
       |  JOIN sqc o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id),
       |sq8 AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY ip_r DESC, neighbor_id) AS rnk FROM sq8s)
       |  WHERE rnk <= 3),
       |cl AS (SELECT cid, list(cmean ORDER BY pos) AS cvv FROM c2
       |       GROUP BY cid),
       |subsp AS (SELECT unnest(generate_series(0, 3)) AS sub),
       |rcorp AS (
       |  SELECT o.vec_id, i.cell,
       |         list_transform(generate_series(1, len(o.v)),
       |                        j -> o.v[j] - l.cvv[j]) AS rv
       |  FROM ovecs o JOIN idx i ON i.corpus_id = o.vec_id
       |  JOIN cl l ON l.cid = i.cell),
       |rsubs AS (
       |  SELECT vec_id, cell, sub,
       |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
       |  FROM rcorp CROSS JOIN subsp),
       |cb AS (SELECT sub, vec_id AS cid, sv AS cv FROM rsubs WHERE vec_id < 8),
       |dq AS (
       |  SELECT a.vec_id, a.cell, a.sub, cb.cid,
       |         list_dot_product(a.sv, a.sv)
       |           - 2.0 * list_dot_product(a.sv, cb.cv)
       |           + list_dot_product(cb.cv, cb.cv) AS dist2
       |  FROM rsubs a JOIN cb USING (sub)),
       |pqcodes AS (
       |  SELECT vec_id, cell, sub, cid FROM (
       |    SELECT vec_id, cell, sub, cid, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY round(dist2, 6), cid) AS rn
       |    FROM dq) WHERE rn = 1),
       |rprob AS (
       |  SELECT a.probe_id, a.cell,
       |         list_transform(generate_series(1, len(p.v)),
       |                        j -> p.v[j] - l.cvv[j]) AS rv
       |  FROM pas a JOIN ovecs p ON p.vec_id = a.probe_id
       |  JOIN cl l ON l.cid = a.cell),
       |psubs AS (
       |  SELECT probe_id, cell, sub,
       |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
       |  FROM rprob CROSS JOIN subsp),
       |ptab AS (
       |  SELECT p.probe_id, p.cell, p.sub, cb.cid,
       |         list_dot_product(p.sv, p.sv)
       |           - 2.0 * list_dot_product(p.sv, cb.cv)
       |           + list_dot_product(cb.cv, cb.cv) AS pd2
       |  FROM psubs p JOIN cb USING (sub)),
       |pqs AS (
       |  SELECT t.probe_id, c.vec_id AS neighbor_id,
       |         CAST(CAST(sum(CAST(round(t.pd2, 6) AS DECIMAL(18,6)))
       |              AS DECIMAL(38,6)) AS DOUBLE) AS adist
       |  FROM pqcodes c JOIN ptab t
       |    ON t.sub = c.sub AND t.cid = c.cid AND t.cell = c.cell
       |  WHERE t.probe_id <> c.vec_id
       |  GROUP BY t.probe_id, c.vec_id),
       |pqshort AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY adist, neighbor_id) AS srnk FROM pqs)
       |  WHERE srnk <= 40),
       |pqrr AS (SELECT s.probe_id, s.neighbor_id,
       |          round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |        FROM pqshort s JOIN ovecs p ON p.vec_id = s.probe_id
       |        JOIN ovecs o ON o.vec_id = s.neighbor_id),
       |pq AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM pqrr)
       |  WHERE rnk <= 3),
       |bcodes AS (SELECT vec_id,
       |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
       |    CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 1))
       |         ELSE 0::BIGINT END)) AS BIGINT) AS code0,
       |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
       |    CASE WHEN v[i + 32] >= 0 THEN (1::BIGINT << (i - 1))
       |         ELSE 0::BIGINT END)) AS BIGINT) AS code1
       |  FROM ovecs),
       |bprobes AS (SELECT vec_id AS probe_id, code0 AS p0, code1 AS p1
       |            FROM bcodes WHERE vec_id < 10),
       |bham AS (SELECT probe_id, c.vec_id AS neighbor_id,
       |           CAST(bit_count(xor(p0, c.code0)) +
       |                bit_count(xor(p1, c.code1)) AS INTEGER) AS ham
       |         FROM bprobes, bcodes c WHERE c.vec_id <> probe_id),
       |bshort AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY ham, neighbor_id) AS hrnk FROM bham)
       |  WHERE hrnk <= 20),
       |brr AS (SELECT s.probe_id, s.neighbor_id,
       |          round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |        FROM bshort s JOIN ovecs p ON p.vec_id = s.probe_id
       |        JOIN ovecs o ON o.vec_id = s.neighbor_id),
       |bq AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM brr)
       |  WHERE rnk <= 3),
       |iham AS (SELECT p.probe_id, c.vec_id AS neighbor_id,
       |           CAST(bit_count(xor(p0, c.code0)) +
       |                bit_count(xor(p1, c.code1)) AS INTEGER) AS ham
       |         FROM pas a
       |         JOIN bprobes p ON p.probe_id = a.probe_id
       |         JOIN idx i ON i.cell = a.cell
       |         JOIN bcodes c ON c.vec_id = i.corpus_id
       |          AND c.vec_id <> p.probe_id),
       |ishort AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY ham, neighbor_id) AS hrnk FROM iham)
       |  WHERE hrnk <= 20),
       |irr AS (SELECT s.probe_id, s.neighbor_id,
       |          round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |        FROM ishort s JOIN ovecs p ON p.vec_id = s.probe_id
       |        JOIN ovecs o ON o.vec_id = s.neighbor_id),
       |ivfbq AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM irr)
       |  WHERE rnk <= 3),
       |approx AS (
       |  SELECT 'bq' AS layout, probe_id, neighbor_id FROM bq
       |  UNION ALL SELECT 'ivf', probe_id, neighbor_id FROM ivf
       |  UNION ALL SELECT 'ivfbq', probe_id, neighbor_id FROM ivfbq
       |  UNION ALL SELECT 'pq', probe_id, neighbor_id FROM pq
       |  UNION ALL SELECT 'sq8', probe_id, neighbor_id FROM sq8),
       |nex AS (SELECT probe_id, count(*) AS n_exact FROM bf
       |        GROUP BY probe_id),
       |hit AS (SELECT layout, probe_id, count(*) AS hits
       |        FROM approx JOIN bf USING (probe_id, neighbor_id)
       |        GROUP BY layout, probe_id),
       |layouts AS (SELECT unnest(['bq','ivf','ivfbq','pq','sq8'])
       |            AS layout)
       |SELECT l.layout, n.probe_id,
       |       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |       CAST(n.n_exact AS BIGINT) AS n_exact
       |FROM layouts l CROSS JOIN nex n
       |LEFT JOIN hit h ON h.layout = l.layout AND h.probe_id = n.probe_id
       |ORDER BY l.layout, n.probe_id""".stripMargin

  /** [[recallLadderSql]] extended across nprobe ∈ {1,2,4,8} for the
    * nprobe-sensitive rungs (ivf, ivfbq, pq, sq8): the probe-cell
    * assignment keeps its rank and a per-np filter (`rn <= np`) scopes
    * every rung's candidate set, with all ranking windows partitioned
    * by (np, probe_id) — one replay produces the whole
    * recall-vs-bytes curve as exact integer overlaps. */
  private def recallCurveSql: String =
    s"""WITH $ovecsCte,
       |$kmeansCte,
       |di AS (
       |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
       |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
       |dir AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
       |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dir WHERE rn = 1),
       |pasr AS (SELECT vec_id AS probe_id, cid AS cell, rn FROM dir
       |         WHERE vec_id < 10 AND rn <= 8),
       |nps AS (SELECT unnest([1, 2, 4, 8]) AS np),
       |pa AS (SELECT n.np, p.probe_id, p.cell FROM nps n
       |       JOIN pasr p ON p.rn <= n.np),
       |bfs AS (
       |  SELECT p.vec_id AS probe_id, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM ovecs p, ovecs o
       |  WHERE p.vec_id < 10 AND o.vec_id <> p.vec_id),
       |bf AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM bfs)
       |  WHERE rnk <= 3),
       |ivfs AS (
       |  SELECT a.np, a.probe_id, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM pa a JOIN ovecs p ON p.vec_id = a.probe_id
       |  JOIN idx i ON i.cell = a.cell
       |  JOIN ovecs o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id),
       |ivf AS (SELECT np, probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY np, probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM ivfs)
       |  WHERE rnk <= 3),
       |sq AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |       FROM ovecs),
       |sqc AS (SELECT vec_id, scale,
       |          list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
       |            ELSE round(x / scale) END) AS q
       |        FROM sq),
       |sq8s AS (
       |  SELECT a.np, a.probe_id, o.vec_id AS neighbor_id,
       |         round(o.scale * list_dot_product(p.v, o.q), 6) AS ip_r
       |  FROM pa a JOIN ovecs p ON p.vec_id = a.probe_id
       |  JOIN idx i ON i.cell = a.cell
       |  JOIN sqc o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id),
       |sq8 AS (SELECT np, probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY np, probe_id
       |    ORDER BY ip_r DESC, neighbor_id) AS rnk FROM sq8s)
       |  WHERE rnk <= 3),
       |cl AS (SELECT cid, list(cmean ORDER BY pos) AS cvv FROM c2
       |       GROUP BY cid),
       |subsp AS (SELECT unnest(generate_series(0, 3)) AS sub),
       |rcorp AS (
       |  SELECT o.vec_id, i.cell,
       |         list_transform(generate_series(1, len(o.v)),
       |                        j -> o.v[j] - l.cvv[j]) AS rv
       |  FROM ovecs o JOIN idx i ON i.corpus_id = o.vec_id
       |  JOIN cl l ON l.cid = i.cell),
       |rsubs AS (
       |  SELECT vec_id, cell, sub,
       |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
       |  FROM rcorp CROSS JOIN subsp),
       |cb AS (SELECT sub, vec_id AS cid, sv AS cv FROM rsubs WHERE vec_id < 8),
       |dq AS (
       |  SELECT a.vec_id, a.cell, a.sub, cb.cid,
       |         list_dot_product(a.sv, a.sv)
       |           - 2.0 * list_dot_product(a.sv, cb.cv)
       |           + list_dot_product(cb.cv, cb.cv) AS dist2
       |  FROM rsubs a JOIN cb USING (sub)),
       |pqcodes AS (
       |  SELECT vec_id, cell, sub, cid FROM (
       |    SELECT vec_id, cell, sub, cid, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY round(dist2, 6), cid) AS rn
       |    FROM dq) WHERE rn = 1),
       |rprob AS (
       |  SELECT a.probe_id, a.cell,
       |         list_transform(generate_series(1, len(p.v)),
       |                        j -> p.v[j] - l.cvv[j]) AS rv
       |  FROM (SELECT DISTINCT probe_id, cell FROM pasr) a
       |  JOIN ovecs p ON p.vec_id = a.probe_id
       |  JOIN cl l ON l.cid = a.cell),
       |psubs AS (
       |  SELECT probe_id, cell, sub,
       |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
       |  FROM rprob CROSS JOIN subsp),
       |ptab AS (
       |  SELECT p.probe_id, p.cell, p.sub, cb.cid,
       |         list_dot_product(p.sv, p.sv)
       |           - 2.0 * list_dot_product(p.sv, cb.cv)
       |           + list_dot_product(cb.cv, cb.cv) AS pd2
       |  FROM psubs p JOIN cb USING (sub)),
       |pqs AS (
       |  SELECT a.np, t.probe_id, c.vec_id AS neighbor_id,
       |         CAST(CAST(sum(CAST(round(t.pd2, 6) AS DECIMAL(18,6)))
       |              AS DECIMAL(38,6)) AS DOUBLE) AS adist
       |  FROM pqcodes c
       |  JOIN ptab t ON t.sub = c.sub AND t.cid = c.cid
       |             AND t.cell = c.cell
       |  JOIN pa a ON a.probe_id = t.probe_id AND a.cell = t.cell
       |  WHERE t.probe_id <> c.vec_id
       |  GROUP BY a.np, t.probe_id, c.vec_id),
       |pqshort AS (SELECT np, probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY np, probe_id
       |    ORDER BY adist, neighbor_id) AS srnk FROM pqs)
       |  WHERE srnk <= 40),
       |pqrr AS (SELECT s.np, s.probe_id, s.neighbor_id,
       |          round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |        FROM pqshort s JOIN ovecs p ON p.vec_id = s.probe_id
       |        JOIN ovecs o ON o.vec_id = s.neighbor_id),
       |pq AS (SELECT np, probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY np, probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM pqrr)
       |  WHERE rnk <= 3),
       |bcodes AS (SELECT vec_id,
       |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
       |    CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 1))
       |         ELSE 0::BIGINT END)) AS BIGINT) AS code0,
       |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
       |    CASE WHEN v[i + 32] >= 0 THEN (1::BIGINT << (i - 1))
       |         ELSE 0::BIGINT END)) AS BIGINT) AS code1
       |  FROM ovecs),
       |bprobes AS (SELECT vec_id AS probe_id, code0 AS p0, code1 AS p1
       |            FROM bcodes WHERE vec_id < 10),
       |iham AS (SELECT a.np, p.probe_id, c.vec_id AS neighbor_id,
       |           CAST(bit_count(xor(p0, c.code0)) +
       |                bit_count(xor(p1, c.code1)) AS INTEGER) AS ham
       |         FROM pa a
       |         JOIN bprobes p ON p.probe_id = a.probe_id
       |         JOIN idx i ON i.cell = a.cell
       |         JOIN bcodes c ON c.vec_id = i.corpus_id
       |          AND c.vec_id <> p.probe_id),
       |ishort AS (SELECT np, probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY np, probe_id
       |    ORDER BY ham, neighbor_id) AS hrnk FROM iham)
       |  WHERE hrnk <= 20),
       |irr AS (SELECT s.np, s.probe_id, s.neighbor_id,
       |          round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |        FROM ishort s JOIN ovecs p ON p.vec_id = s.probe_id
       |        JOIN ovecs o ON o.vec_id = s.neighbor_id),
       |ivfbq AS (SELECT np, probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY np, probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM irr)
       |  WHERE rnk <= 3),
       |approx AS (
       |  SELECT 'ivf' AS layout, np, probe_id, neighbor_id FROM ivf
       |  UNION ALL SELECT 'ivfbq', np, probe_id, neighbor_id FROM ivfbq
       |  UNION ALL SELECT 'pq', np, probe_id, neighbor_id FROM pq
       |  UNION ALL SELECT 'sq8', np, probe_id, neighbor_id FROM sq8),
       |nex AS (SELECT probe_id, count(*) AS n_exact FROM bf
       |        GROUP BY probe_id),
       |hit AS (SELECT layout, np, probe_id, count(*) AS hits
       |        FROM approx JOIN bf USING (probe_id, neighbor_id)
       |        GROUP BY layout, np, probe_id),
       |layouts AS (SELECT unnest(['ivf','ivfbq','pq','sq8']) AS layout),
       |cellsz AS (SELECT cell, count(*) AS cell_n FROM idx GROUP BY cell),
       |cand AS (
       |  SELECT n.np, p.probe_id, sum(z.cell_n) - 1 AS cand
       |  FROM nps n JOIN pasr p ON p.rn <= n.np
       |  JOIN cellsz z ON z.cell = p.cell
       |  GROUP BY n.np, p.probe_id),
       |bytes AS (
       |  SELECT 'ivf' AS layout, np, probe_id,
       |         cand * 512 AS bytes_scanned FROM cand
       |  UNION ALL SELECT 'ivfbq', np, probe_id,
       |         cand * 16 + least(20, cand) * 512 FROM cand
       |  UNION ALL SELECT 'pq', np, probe_id,
       |         cand * 4 + least(40, cand) * 512 FROM cand
       |  UNION ALL SELECT 'sq8', np, probe_id,
       |         cand * 72 FROM cand)
       |SELECT l.layout, CAST(n2.np AS INT) AS np, n.probe_id,
       |       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |       CAST(n.n_exact AS BIGINT) AS n_exact,
       |       CAST(b.bytes_scanned AS BIGINT) AS bytes_scanned
       |FROM layouts l CROSS JOIN nps n2 CROSS JOIN nex n
       |LEFT JOIN hit h ON h.layout = l.layout AND h.np = n2.np
       |               AND h.probe_id = n.probe_id
       |JOIN bytes b ON b.layout = l.layout AND b.np = n2.np
       |            AND b.probe_id = n.probe_id
       |ORDER BY l.layout, np, n.probe_id""".stripMargin

  /** The IVF replay's RANGE tail: same trained cells, probe set and
    * scored frame as [[ivfKmeansSearchSqlWhere]], but thresholded
    * (cos ≥ 0.2) instead of ranked — no window at all. */
  private def ivfKmeansRangeSql: String =
    s"""WITH $ovecsCte,
       |$kmeansCte,
       |di AS (
       |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
       |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
       |dir AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
       |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dir
       |        WHERE rn = 1),
       |pas AS (SELECT vec_id AS probe_id, cid AS cell FROM dir
       |        WHERE vec_id < 15 AND rn <= 2),
       |scored AS (
       |  SELECT a.probe_id, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM pas a JOIN ovecs p ON p.vec_id = a.probe_id
       |  JOIN idx i ON i.cell = a.cell
       |  JOIN ovecs o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id)
       |SELECT probe_id, neighbor_id, cos_r FROM scored
       |WHERE cos_r >= 0.2 ORDER BY probe_id, neighbor_id""".stripMargin

  /** Sequential replay of the full IVF-PQ stack (m=4 subspaces,
    * codebook=first 8 vectors, 8 kmeans cells, nprobe=2, probes =
    * vec_id < 10, k=5) — shared by sim_ivfpq_topk and the persisted-
    * index twin sim_ivfpq_persist (parquet round-trips the codes,
    * codebook, and centroids exactly). */
  private lazy val ivfPqSearchSql: String =
    s"""WITH $ovecsCte,
         |$kmeansCte,
         |di AS (
         |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
         |dir AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
         |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dir WHERE rn = 1),
         |pas AS (SELECT vec_id AS probe_id, cid AS cell FROM dir
         |        WHERE vec_id < 10 AND rn <= 2),
         |subsp AS (SELECT unnest(generate_series(0, 3)) AS sub),
         |subs AS (
         |  SELECT vec_id, sub,
         |         v[(sub * (len(v) // 4) + 1):((sub + 1) * (len(v) // 4))] AS sv
         |  FROM ovecs CROSS JOIN subsp),
         |cb AS (SELECT sub, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < 8),
         |dq AS (
         |  SELECT a.vec_id, a.sub, cb.cid,
         |         list_dot_product(a.sv, a.sv)
         |           - 2.0 * list_dot_product(a.sv, cb.cv)
         |           + list_dot_product(cb.cv, cb.cv) AS dist2
         |  FROM subs a JOIN cb USING (sub)),
         |codes AS (
         |  SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY round(dist2, 6), cid) AS rn
         |    FROM dq) WHERE rn = 1),
         |ptab AS (
         |  SELECT p.vec_id AS probe_id, p.sub, cb.cid,
         |         list_dot_product(p.sv, p.sv)
         |           - 2.0 * list_dot_product(p.sv, cb.cv)
         |           + list_dot_product(cb.cv, cb.cv) AS pd2
         |  FROM subs p JOIN cb USING (sub) WHERE p.vec_id < 10),
         |sc AS (
         |  SELECT a.probe_id, c.vec_id,
         |         CAST(CAST(sum(CAST(round(p.pd2, 6) AS DECIMAL(18,6)))
         |              AS DECIMAL(38,6)) AS DOUBLE) AS adist
         |  FROM pas a
         |  JOIN idx i ON i.cell = a.cell
         |  JOIN codes c ON c.vec_id = i.corpus_id AND c.vec_id <> a.probe_id
         |  JOIN ptab p ON p.probe_id = a.probe_id
         |             AND p.sub = c.sub AND p.cid = c.cid
         |  GROUP BY a.probe_id, c.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY adist, vec_id) AS rnk FROM sc)
         |SELECT probe_id, vec_id AS neighbor_id, adist,
         |       CAST(rnk AS INTEGER) AS rnk
         |FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** Sequential replay of the BY-RESIDUAL refine composition
    * ([[graft.operators.Similarity.ivfPqrTopK]] at its defaults: m=4,
    * codebookK=8, 8 kmeans cells, nprobe=2, rerankDepth=40, probes =
    * vec_id < 10, k=5) — shared by sim_ivfpqr_topk and the persisted
    * twins sim_ivfpq_persist / sim_ivfpq_append (parquet round-trips
    * the residual codes, codebook, and centroids exactly; the append
    * leg's quantizer trains on the full corpus, so its union is the
    * monolithic build). Residuals are plain double subtractions of
    * the 6-dp-rounded cell means (cl lists, ordered by pos), residual
    * codebook = the first 8 vectors' residual subvectors, the probe
    * distance table is per (probe, probed cell), and the depth-40
    * ADC shortlist re-ranks with exact 6-dp cosine. */
  private lazy val ivfPqrSearchSql: String = ivfPqrSearchSqlWhere("")

  /** [[ivfPqrSearchSql]] with a predicate scoping the LIVE code rows —
    * the delete leg's oracle hook (tombstoned ids mask from the code
    * table BEFORE the ADC shortlist, probes untouched, exactly the
    * broadcast anti-join in searchIvfPqIndex) and the filtered leg's
    * metadata predicate (the stored code rows carry the metadata —
    * the replay joins it back from embeddings as `lv`). Empty
    * predicate = the monolithic serve. */
  private def ivfPqrSearchSqlWhere(codePred: String,
      depthSql: String = "40"): String =
    s"""${ivfPqrChainCtes(codePred, depthSql)},
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY cos_r DESC, neighbor_id) AS rnk
       |  FROM rr)
       |SELECT probe_id, neighbor_id, cos_r, CAST(rnk AS INTEGER) AS rnk
       |FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** Range-mode final over the same by-residual IVF-PQ chain — ADC
    * gates the depth-40 shortlist, the EXACT refined cosine applies
    * the radius (the Scala side's searchIvfPqIndexRange contract). */
  private def ivfPqrRangeSql(tau: Double): String =
    s"""${ivfPqrChainCtes("")}
       |SELECT probe_id, neighbor_id, cos_r FROM rr
       |WHERE cos_r >= $tau ORDER BY probe_id, neighbor_id""".stripMargin

  /** Shared WITH-chain of the by-residual IVF-PQ replays, ending in
    * `rr` (probe, shortlisted neighbor, exact 6-dp refined cosine). */
  private def ivfPqrChainCtes(codePred: String,
      depthSql: String = "40"): String =
    s"""WITH $ovecsCte,
         |$kmeansCte,
         |di AS (
         |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
         |dir AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
         |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dir WHERE rn = 1),
         |pas AS (SELECT vec_id AS probe_id, cid AS cell FROM dir
         |        WHERE vec_id < 10 AND rn <= 2),
         |cl AS (SELECT cid, list(cmean ORDER BY pos) AS cvv FROM c2 GROUP BY cid),
         |subsp AS (SELECT unnest(generate_series(0, 3)) AS sub),
         |rcorp AS (
         |  SELECT o.vec_id, i.cell,
         |         list_transform(generate_series(1, len(o.v)),
         |                        j -> o.v[j] - l.cvv[j]) AS rv
         |  FROM ovecs o JOIN idx i ON i.corpus_id = o.vec_id
         |  JOIN cl l ON l.cid = i.cell),
         |rsubs AS (
         |  SELECT vec_id, cell, sub,
         |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
         |  FROM rcorp CROSS JOIN subsp),
         |cb AS (SELECT sub, vec_id AS cid, sv AS cv FROM rsubs WHERE vec_id < 8),
         |dq AS (
         |  SELECT a.vec_id, a.cell, a.sub, cb.cid,
         |         list_dot_product(a.sv, a.sv)
         |           - 2.0 * list_dot_product(a.sv, cb.cv)
         |           + list_dot_product(cb.cv, cb.cv) AS dist2
         |  FROM rsubs a JOIN cb USING (sub)),
         |pqcodes AS (
         |  SELECT vec_id, cell, sub, cid FROM (
         |    SELECT vec_id, cell, sub, cid, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY round(dist2, 6), cid) AS rn
         |    FROM dq) WHERE rn = 1),
         |rprob AS (
         |  SELECT a.probe_id, a.cell,
         |         list_transform(generate_series(1, len(p.v)),
         |                        j -> p.v[j] - l.cvv[j]) AS rv
         |  FROM pas a JOIN ovecs p ON p.vec_id = a.probe_id
         |  JOIN cl l ON l.cid = a.cell),
         |psubs AS (
         |  SELECT probe_id, cell, sub,
         |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
         |  FROM rprob CROSS JOIN subsp),
         |ptab AS (
         |  SELECT p.probe_id, p.cell, p.sub, cb.cid,
         |         list_dot_product(p.sv, p.sv)
         |           - 2.0 * list_dot_product(p.sv, cb.cv)
         |           + list_dot_product(cb.cv, cb.cv) AS pd2
         |  FROM psubs p JOIN cb USING (sub)),
         |live AS (SELECT p.* FROM pqcodes p
         |         JOIN embeddings lv ON lv.vec_id = p.vec_id $codePred),
         |sc AS (
         |  SELECT t.probe_id, c.vec_id,
         |         CAST(CAST(sum(CAST(round(t.pd2, 6) AS DECIMAL(18,6)))
         |              AS DECIMAL(38,6)) AS DOUBLE) AS adist
         |  FROM live c JOIN ptab t
         |    ON t.sub = c.sub AND t.cid = c.cid AND t.cell = c.cell
         |  WHERE t.probe_id <> c.vec_id
         |  GROUP BY t.probe_id, c.vec_id),
         |short AS (
         |  SELECT probe_id, vec_id AS neighbor_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY adist, vec_id) AS srnk FROM sc)
         |  WHERE srnk <= ($depthSql)),
         |rr AS (
         |  SELECT s.probe_id, s.neighbor_id,
         |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
         |  FROM short s JOIN ovecs p ON p.vec_id = s.probe_id
         |  JOIN ovecs o ON o.vec_id = s.neighbor_id)""".stripMargin

  /** Positional-leg intersection for the ('slow','hash','batch')
    * phrase — shared by the corpus-side text_phrase_search and the
    * index-served text_phrase_serve (positions round-trip as sorted
    * longs, so the two are bit-identical). DuckDB positions are
    * 1-based, Spark's posexplode 0-based — `start` is internal to each
    * replay and never emitted, so the off-by-one cannot surface. */
  private val phraseSearchSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |p AS (
      |  SELECT doc_id, unnest(w) AS term,
      |         unnest(generate_series(1, len(w))) AS pos
      |  FROM w),
      |l0 AS (SELECT doc_id, pos AS start FROM p WHERE term = 'slow'),
      |l1 AS (SELECT doc_id, pos - 1 AS start FROM p WHERE term = 'hash'),
      |l2 AS (SELECT doc_id, pos - 2 AS start FROM p WHERE term = 'batch')
      |SELECT doc_id, count(*) AS n_matches
      |FROM l0 JOIN l1 USING (doc_id, start) JOIN l2 USING (doc_id, start)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** SymSpell replay: probes and vocabulary expand to their
    * {w} ∪ del1(w) key sets, equi-join on the key, exact-levenshtein
    * verify (the symmetric-delete join admits distance-2 collisions),
    * rank by (freq desc, word). The vocabulary predicate is the
    * index-side lifecycle hook: empty for the corpus-scan, persisted
    * and append twins (the appended union is bit-identical to the
    * monolithic build), a word filter for the delete leg (equivalent
    * to a rebuild without the tombstoned words). Probes always derive
    * from the FULL corpus — deleting a word retracts candidates, not
    * queries. */
  private def spellSqlWhere(vocabPred: String): String =
    s"""WITH words AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |vocab AS (SELECT w AS word, count(*) AS freq FROM words
      |          $vocabPred GROUP BY w),
      |p5 AS (SELECT w FROM (SELECT DISTINCT w FROM words
      |         WHERE len(w) >= 5) ORDER BY w LIMIT 8),
      |p4 AS (SELECT w FROM (SELECT DISTINCT w FROM words
      |         WHERE len(w) = 4) ORDER BY w LIMIT 2),
      |probes AS (SELECT DISTINCT probe_term FROM (
      |  SELECT substr(w, 1, 2) || substr(w, 4) AS probe_term FROM p5
      |  UNION ALL SELECT w AS probe_term FROM p4)),
      |pkeys AS (
      |  SELECT probe_term,
      |    unnest(list_distinct(list_prepend(probe_term,
      |      list_transform(generate_series(1, len(probe_term)), i ->
      |        substr(probe_term, 1, i - 1) || substr(probe_term, i + 1)
      |      )))) AS variant
      |  FROM probes),
      |ikeys AS (
      |  SELECT word, freq,
      |    unnest(list_distinct(list_prepend(word,
      |      list_transform(generate_series(1, len(word)), i ->
      |        substr(word, 1, i - 1) || substr(word, i + 1)
      |      )))) AS variant
      |  FROM vocab),
      |cand AS (SELECT DISTINCT probe_term, word, freq
      |         FROM pkeys JOIN ikeys USING (variant)
      |         WHERE levenshtein(probe_term, word) <= 1),
      |ranked AS (
      |  SELECT probe_term, word, freq,
      |    CAST(levenshtein(probe_term, word) AS INTEGER) AS lev,
      |    row_number() OVER (PARTITION BY probe_term
      |      ORDER BY freq DESC, word) AS rnk
      |  FROM cand)
      |SELECT probe_term, word, freq, lev, rnk FROM ranked
      |WHERE rnk <= 3 ORDER BY probe_term, rnk""".stripMargin

  private val spellSql: String = spellSqlWhere("")

  /** Segment-dedup replay shared by dedup_segments and its wide-key
    * twin dedup_segments_wide: the key (bare xxhash64 vs
    * (hash, length) struct) is internal to the Scala side and never
    * emitted, so both rows replay the same pure segment semantics. */
  private lazy val segmentDedupSql: String =
    s"""WITH $corpusCte,
       |wrd AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
       |idx AS (SELECT doc_id, w,
       |          unnest(generate_series(0, (len(w) - 1) // 10)) AS j
       |        FROM wrd),
       |seg AS (SELECT doc_id, j,
       |          array_to_string(w[(j*10+1):(j*10+10)], ' ') AS seg
       |        FROM idx),
       |sdf AS (SELECT seg, count(DISTINCT doc_id) AS df
       |        FROM seg GROUP BY seg)
       |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_seg,
       |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  coalesce(string_agg(CASE WHEN df < 2 THEN s.seg END,
       |    ' ' ORDER BY s.j), '') AS text_clean
       |FROM seg s JOIN sdf USING (seg)
       |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin

  /** Okapi BM25 over the fixed ('hash','join','spark') term bag —
    * shared by text_bm25 and its persisted-inverted-index twin
    * text_bm25_serve (parquet round-trip of BIGINT tf/dl/df is exact,
    * so the serve path's scores are bit-identical). */
  private val bm25Sql: String = bm25SqlWhere("")

  /** The BM25 replay with an optional corpus predicate — shared by the
    * corpus-scan/serve/shard twins (empty) and text_bm25_delete (the
    * tombstoned docs excluded, equivalent to a rebuild without them). */
  private def bm25SqlWhere(pred: String): String =
    s"""WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents $pred),
      |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM words
      |       WHERE term IN ('hash', 'join', 'spark') GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      |SELECT t.doc_id, count(*) AS n_terms_hit,
      |  CAST(sum(CAST(round(
      |    ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) /
      |              (CAST(d.df AS DOUBLE) + 0.5)) *
      |    (CAST(t.tf AS DOUBLE) * (1.2 + 1.0)) /
      |    (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) +
      |       0.75 * CAST(l.dl AS DOUBLE) /
      |       (CAST(s.tot_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))),
      |    6) AS DECIMAL(18,6))) AS DOUBLE) AS score
      |FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id)
      |CROSS JOIN stats s
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Sequential replay of [[graft.operators.Similarity.kmeansTrain]]
    * (k=8, iters=2) over `ovecs`: seed → means → 2× (assign → means).
    * Final trained cells land in `c2` (cid, pos, n, cmean); `dims` is
    * the 1-based exploded corpus, reusable downstream. Shared by the
    * sim_kmeans_train and sim_ivf_kmeans oracles. */
  private val kmeansCte =
    """dims AS (
      |  SELECT vec_id, unnest(v) AS x,
      |         unnest(generate_series(1, len(v))) AS pos
      |  FROM ovecs),
      |seed AS (
      |  SELECT vec_id,
      |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 3)) AS INTEGER) % 8 AS cid
      |  FROM ovecs),
      |c0 AS (
      |  SELECT cid, pos, count(*) AS n,
      |    round(CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS cmean
      |  FROM dims JOIN seed USING (vec_id) GROUP BY cid, pos),
      |d1 AS (
      |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
      |  FROM dims d JOIN c0 c USING (pos) GROUP BY d.vec_id, c.cid),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY round(dist2, 6), cid) AS rn FROM d1)
      |  WHERE rn = 1),
      |c1 AS (
      |  SELECT cid, pos, count(*) AS n,
      |    round(CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS cmean
      |  FROM dims JOIN a1 USING (vec_id) GROUP BY cid, pos),
      |d2 AS (
      |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
      |  FROM dims d JOIN c1 c USING (pos) GROUP BY d.vec_id, c.cid),
      |a2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY round(dist2, 6), cid) AS rn FROM d2)
      |  WHERE rn = 1),
      |c2 AS (
      |  SELECT cid, pos, count(*) AS n,
      |    round(CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS cmean
      |  FROM dims JOIN a2 USING (vec_id) GROUP BY cid, pos)""".stripMargin

  /** One half's hash-seeded Lloyd chain (k=8, iters=2) for the
    * TRAINED multi-index replay — [[kmeansCte]] instantiated over the
    * half's positions of the shared `hdims` explode, every CTE
    * prefixed so the two halves' trajectories coexist in one query.
    * The Scala side trains on RE-BASED half slices while this replay
    * keeps absolute positions: position labels are only join keys
    * WITHIN a half, so distances, means, and the whole trajectory are
    * identical. Ends in `<p>df`: every vector's rounded L2² to every
    * final sub-centroid of that half. */
  private def kmeansHalfCte(p: String, posPred: String): String = {
    def means(name: String, assign: String) =
      s"""${p}$name AS (
         |  SELECT a.cid, pos, count(*) AS n,
         |    round(CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS cmean
         |  FROM ${p}dims JOIN $assign a USING (vec_id) GROUP BY a.cid, pos)"""
    def dist(name: String, cents: String) =
      s"""${p}$name AS (
         |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM ${p}dims d JOIN ${p}$cents c USING (pos)
         |  GROUP BY d.vec_id, c.cid)"""
    def argmin(name: String, d: String) =
      s"""${p}$name AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY round(dist2, 6), cid) AS rn FROM ${p}$d)
         |  WHERE rn = 1)"""
    s"""${p}dims AS (
       |  SELECT vec_id, x, pos FROM hdims WHERE $posPred),
       |${means("c0", "seed")},
       |${dist("d1", "c0")},
       |${argmin("a1", "d1")},
       |${means("c1", s"${p}a1")},
       |${dist("d2", "c1")},
       |${argmin("a2", "d2")},
       |${means("c2", s"${p}a2")},
       |${p}df AS (
       |  SELECT d.vec_id, c.cid,
       |         round(sum((x - cmean) * (x - cmean)), 6) AS d2r
       |  FROM ${p}dims d JOIN ${p}c2 c USING (pos)
       |  GROUP BY d.vec_id, c.cid)""".stripMargin
  }

  /** Replay of the TRAINED multi-index (sim_imi_kmeans): two
    * independent half-Lloyd trajectories ([[kmeansHalfCte]]), corpus
    * indexed in its rank-1 (c0, c1) pair, probes ranked over all pairs
    * by summed rounded half-distances, exact-cosine serve — the
    * production composition's exact contract. */
  private val imiKmeansSearchSql: String =
    s"""WITH $ovecsCte,
       |hdims AS (
       |  SELECT vec_id, unnest(v) AS x,
       |         unnest(generate_series(1, len(v))) AS pos,
       |         len(v) // 2 AS hf
       |  FROM ovecs),
       |seed AS (
       |  SELECT vec_id,
       |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 3)) AS INTEGER) % 8 AS cid
       |  FROM ovecs),
       |${kmeansHalfCte("h0", "pos <= hf")},
       |${kmeansHalfCte("h1", "pos > hf")},
       |idx AS (
       |  SELECT i0.vec_id, i0.cid AS c0, i1.cid AS c1 FROM
       |    (SELECT vec_id, cid FROM (
       |       SELECT *, row_number() OVER (PARTITION BY vec_id
       |         ORDER BY d2r, cid) AS rn FROM h0df) WHERE rn = 1) i0
       |  JOIN
       |    (SELECT vec_id, cid FROM (
       |       SELECT *, row_number() OVER (PARTITION BY vec_id
       |         ORDER BY d2r, cid) AS rn FROM h1df) WHERE rn = 1) i1
       |  USING (vec_id)),
       |passign AS (
       |  SELECT probe_id, l0, l1 FROM (
       |    SELECT p0.vec_id AS probe_id, p0.cid AS l0, p1.cid AS l1,
       |           row_number() OVER (PARTITION BY p0.vec_id
       |             ORDER BY p0.d2r + p1.d2r, p0.cid, p1.cid) AS rn
       |    FROM h0df p0 JOIN h1df p1 ON p0.vec_id = p1.vec_id
       |    WHERE p0.vec_id < 15)
       |  WHERE rn <= 2),
       |probes AS (
       |  SELECT vec_id AS probe_id, v AS pv FROM ovecs WHERE vec_id < 15),
       |scored AS (
       |  SELECT a.probe_id, a.l0, a.l1, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.pv", "o.v")}, 6) AS cos_r
       |  FROM passign a JOIN probes p USING (probe_id)
       |  JOIN idx i ON i.c0 = a.l0 AND i.c1 = a.l1
       |    AND i.vec_id <> a.probe_id
       |  JOIN ovecs o ON o.vec_id = i.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM scored)
       |SELECT probe_id, l0, l1, neighbor_id, cos_r, rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin

  /** Replay of the trained multi-index's recall-vs-bytes curve
    * (sim_imi_curve): the two half-Lloyd trajectories, the rank-1 pair
    * index and its occupancy table, a single pair ranking filtered per
    * operating point, exact-cosine serves, and the exact-integer
    * overlap vs brute force — bytes = (Σ probed-pair occupancy − 1)
    * × 512 B (the probe's own index pair is always its rank-1 pair:
    * min(r0 + r1) separates into the two per-half argmins, ties
    * resolved lexicographically on both sides). Parameterized over
    * the corpus CTE so the clustered-fixture twin
    * (sim_imi_curve_clustered) replays the SAME chain over the
    * transformed vectors. */
  private val imiCurveSql: String = imiCurveSqlOver(ovecsCte)

  /** [[imiCurveSql]] probed by EXTERNAL vectors — no probe has an
    * index row, so nothing subtracts from any candidate count and
    * the membership-checked figure is exact by construction; the
    * driver gate makes the round-18 external-exactness claim
    * oracle-verified instead of spec-only. */
  private lazy val imiCurveExternalSql: String =
    imiCurveSqlOver(ovecsCte, imiCurveExternalProbesCte)

  /** [[imiCurveSql]] over the deterministic CLUSTERED fixture — each
    * vector snaps to its (label % 8) center (the spec suite's
    * ±1-pattern centers: bit (j−1) % 3 of the cluster id) plus 0.1×
    * the original embedding as noise. This is the corpus the
    * multi-index is FOR (the structureless default is its adversarial
    * case); the twin row records the other half of the pick-IMI
    * guidance. */
  private val imiCurveClusteredSql: String = imiCurveSqlOver(
    """ovecs AS (
      |  SELECT vec_id,
      |    list_transform(generate_series(1, len(v0)), j ->
      |      (CASE WHEN ((label % 8)
      |                  // CAST(pow(2, (j - 1) % 3) AS INT)) % 2 = 1
      |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)
      |      + CAST(0.1 AS DOUBLE) * v0[j]) AS v
      |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v0
      |        FROM embeddings))""".stripMargin)

  /** Probe CTEs of the curve replay — pvecs (probe vectors) + ph0/ph1
    * (their rounded L2² to the final trained sub-centroids). The
    * default scopes corpus members vec_id < 10, whose distances are
    * already in h0df/h1df. */
  private lazy val imiCurveMemberProbesCte: String =
    """pvecs AS (SELECT vec_id, v FROM ovecs WHERE vec_id < 10),
      |ph0 AS (SELECT * FROM h0df WHERE vec_id < 10),
      |ph1 AS (SELECT * FROM h1df WHERE vec_id < 10)""".stripMargin

  /** EXTERNAL probes: vec_id < 10 shifted far out of any corpus id
    * range and displaced by +0.25 per dimension (cosine-relevant — a
    * pure scale would serve identically), with their half distances
    * computed fresh against the FINAL trained sub-centroids
    * (h0c2/h1c2) exactly as the engine's trainedDistances does for a
    * non-corpus probe frame. */
  private lazy val imiCurveExternalProbesCte: String =
    """pvecs AS (
      |  SELECT vec_id + 10000000 AS vec_id,
      |         list_transform(v, x -> x + CAST(0.25 AS DOUBLE)) AS v
      |  FROM ovecs WHERE vec_id < 10),
      |pdims AS (
      |  SELECT vec_id, unnest(v) AS x,
      |         unnest(generate_series(1, len(v))) AS pos,
      |         len(v) // 2 AS hf
      |  FROM pvecs),
      |ph0 AS (
      |  SELECT d.vec_id, c.cid,
      |         round(sum((d.x - c.cmean) * (d.x - c.cmean)), 6) AS d2r
      |  FROM pdims d JOIN h0c2 c ON c.pos = d.pos
      |  WHERE d.pos <= d.hf GROUP BY d.vec_id, c.cid),
      |ph1 AS (
      |  SELECT d.vec_id, c.cid,
      |         round(sum((d.x - c.cmean) * (d.x - c.cmean)), 6) AS d2r
      |  FROM pdims d JOIN h1c2 c ON c.pos = d.pos
      |  WHERE d.pos > d.hf GROUP BY d.vec_id, c.cid)""".stripMargin

  private def imiCurveSqlOver(vecsCte: String,
      probesCte: String = imiCurveMemberProbesCte): String =
    s"""WITH $vecsCte,
       |hdims AS (
       |  SELECT vec_id, unnest(v) AS x,
       |         unnest(generate_series(1, len(v))) AS pos,
       |         len(v) // 2 AS hf
       |  FROM ovecs),
       |seed AS (
       |  SELECT vec_id,
       |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 3)) AS INTEGER) % 8 AS cid
       |  FROM ovecs),
       |${kmeansHalfCte("h0", "pos <= hf")},
       |${kmeansHalfCte("h1", "pos > hf")},
       |$probesCte,
       |idx AS (
       |  SELECT i0.vec_id, i0.cid AS c0, i1.cid AS c1 FROM
       |    (SELECT vec_id, cid FROM (
       |       SELECT *, row_number() OVER (PARTITION BY vec_id
       |         ORDER BY d2r, cid) AS rn FROM h0df) WHERE rn = 1) i0
       |  JOIN
       |    (SELECT vec_id, cid FROM (
       |       SELECT *, row_number() OVER (PARTITION BY vec_id
       |         ORDER BY d2r, cid) AS rn FROM h1df) WHERE rn = 1) i1
       |  USING (vec_id)),
       |psize AS (SELECT c0, c1, count(*) AS pair_n FROM idx
       |          GROUP BY c0, c1),
       |pairsr AS (
       |  SELECT p0.vec_id AS probe_id, p0.cid AS l0, p1.cid AS l1,
       |         row_number() OVER (PARTITION BY p0.vec_id
       |           ORDER BY p0.d2r + p1.d2r, p0.cid, p1.cid) AS rn
       |  FROM ph0 p0 JOIN ph1 p1 ON p0.vec_id = p1.vec_id),
       |nps AS (SELECT unnest([1, 2, 4, 8]) AS np),
       |pa AS (SELECT n.np, p.probe_id, p.l0, p.l1 FROM nps n
       |       JOIN pairsr p ON p.rn <= n.np),
       |bfs AS (
       |  SELECT p.vec_id AS probe_id, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM pvecs p, ovecs o
       |  WHERE o.vec_id <> p.vec_id),
       |bf AS (SELECT probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM bfs)
       |  WHERE rnk <= 3),
       |nss AS (SELECT probe_id, count(*) AS n_exact FROM bf
       |        GROUP BY probe_id),
       |imis AS (
       |  SELECT a.np, a.probe_id, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM pa a JOIN pvecs p ON p.vec_id = a.probe_id
       |  JOIN idx i ON i.c0 = a.l0 AND i.c1 = a.l1
       |    AND i.vec_id <> a.probe_id
       |  JOIN ovecs o ON o.vec_id = i.vec_id),
       |imi AS (SELECT np, probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY np, probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM imis)
       |  WHERE rnk <= 3),
       |hitsc AS (
       |  SELECT i.np, i.probe_id, count(*) AS hits
       |  FROM imi i JOIN bf b USING (probe_id, neighbor_id)
       |  GROUP BY i.np, i.probe_id),
       |cand AS (
       |  SELECT a.np, a.probe_id,
       |         CAST(sum(s.pair_n) - count(i.vec_id) AS BIGINT) AS cand
       |  FROM pa a JOIN psize s ON s.c0 = a.l0 AND s.c1 = a.l1
       |  LEFT JOIN idx i ON i.vec_id = a.probe_id
       |    AND i.c0 = a.l0 AND i.c1 = a.l1
       |  GROUP BY a.np, a.probe_id),
       |cl AS (
       |  SELECT 0 AS sub, cid AS clabel, list(cmean ORDER BY pos) AS cvv
       |  FROM h0c2 GROUP BY cid
       |  UNION ALL
       |  SELECT 1 AS sub, cid AS clabel, list(cmean ORDER BY pos) AS cvv
       |  FROM h1c2 GROUP BY cid),
       |subsp AS (SELECT unnest(generate_series(0, 3)) AS sub),
       |rcorp AS (
       |  SELECT o.vec_id, i.c0, i.c1,
       |         list_transform(generate_series(1, len(o.v)), j ->
       |           o.v[j] - CASE WHEN j <= len(o.v) // 2
       |             THEN l0.cvv[j]
       |             ELSE l1.cvv[j - len(o.v) // 2] END) AS rv
       |  FROM ovecs o JOIN idx i ON i.vec_id = o.vec_id
       |  JOIN cl l0 ON l0.sub = 0 AND l0.clabel = i.c0
       |  JOIN cl l1 ON l1.sub = 1 AND l1.clabel = i.c1),
       |rsubs AS (
       |  SELECT vec_id, c0, c1, sub,
       |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
       |  FROM rcorp CROSS JOIN subsp),
       |cbq AS (SELECT sub, vec_id AS cid, sv AS cv FROM rsubs
       |        WHERE vec_id < 8),
       |dq AS (
       |  SELECT a.vec_id, a.c0, a.c1, a.sub, cbq.cid,
       |         list_dot_product(a.sv, a.sv)
       |           - 2.0 * list_dot_product(a.sv, cbq.cv)
       |           + list_dot_product(cbq.cv, cbq.cv) AS dist2
       |  FROM rsubs a JOIN cbq USING (sub)),
       |pqcodes AS (
       |  SELECT vec_id, c0, c1, sub, cid FROM (
       |    SELECT vec_id, c0, c1, sub, cid, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY round(dist2, 6), cid) AS rn
       |    FROM dq) WHERE rn = 1),
       |rprob AS (
       |  SELECT a.probe_id, a.l0, a.l1, a.rn,
       |         list_transform(generate_series(1, len(p.v)), j ->
       |           p.v[j] - CASE WHEN j <= len(p.v) // 2
       |             THEN l0.cvv[j]
       |             ELSE l1.cvv[j - len(p.v) // 2] END) AS rv
       |  FROM pairsr a JOIN pvecs p ON p.vec_id = a.probe_id
       |  JOIN cl l0 ON l0.sub = 0 AND l0.clabel = a.l0
       |  JOIN cl l1 ON l1.sub = 1 AND l1.clabel = a.l1),
       |psubs AS (
       |  SELECT probe_id, l0, l1, rn, sub,
       |         rv[(sub * (len(rv) // 4) + 1):((sub + 1) * (len(rv) // 4))] AS sv
       |  FROM rprob CROSS JOIN subsp),
       |ptab AS (
       |  SELECT p.probe_id, p.l0, p.l1, p.rn, p.sub, cbq.cid,
       |         list_dot_product(p.sv, p.sv)
       |           - 2.0 * list_dot_product(p.sv, cbq.cv)
       |           + list_dot_product(cbq.cv, cbq.cv) AS pd2
       |  FROM psubs p JOIN cbq USING (sub)),
       |scq AS (
       |  SELECT t.probe_id, c.vec_id, t.rn,
       |         CAST(CAST(sum(CAST(round(t.pd2, 6) AS DECIMAL(18,6)))
       |              AS DECIMAL(38,6)) AS DOUBLE) AS adist
       |  FROM pqcodes c JOIN ptab t
       |    ON t.sub = c.sub AND t.cid = c.cid
       |    AND t.l0 = c.c0 AND t.l1 = c.c1
       |  WHERE t.probe_id <> c.vec_id
       |  GROUP BY t.probe_id, c.vec_id, t.rn),
       |shortq AS (
       |  SELECT np, probe_id, vec_id AS neighbor_id FROM (
       |    SELECT n.np, s.probe_id, s.vec_id,
       |           row_number() OVER (PARTITION BY n.np, s.probe_id
       |             ORDER BY s.adist, s.vec_id) AS srnk
       |    FROM nps n JOIN scq s ON s.rn <= n.np)
       |  WHERE srnk <= 40),
       |rrq AS (
       |  SELECT s.np, s.probe_id, s.neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM shortq s JOIN pvecs p ON p.vec_id = s.probe_id
       |  JOIN ovecs o ON o.vec_id = s.neighbor_id),
       |pqserved AS (SELECT np, probe_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY np, probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM rrq)
       |  WHERE rnk <= 3),
       |hitsq AS (
       |  SELECT i.np, i.probe_id, count(*) AS hits
       |  FROM pqserved i JOIN bf b USING (probe_id, neighbor_id)
       |  GROUP BY i.np, i.probe_id)
       |SELECT 'imi' AS rung, c.np, c.probe_id,
       |       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |       n.n_exact, c.cand, c.cand * 512 AS bytes_scanned
       |FROM cand c JOIN nss n ON n.probe_id = c.probe_id
       |LEFT JOIN hitsc h ON h.np = c.np AND h.probe_id = c.probe_id
       |UNION ALL
       |SELECT 'imipq' AS rung, c.np, c.probe_id,
       |       CAST(coalesce(q.hits, 0) AS BIGINT) AS hits,
       |       n.n_exact, c.cand,
       |       c.cand * 4 + least(c.cand, 40) * 512 AS bytes_scanned
       |FROM cand c JOIN nss n ON n.probe_id = c.probe_id
       |LEFT JOIN hitsq q ON q.np = c.np AND q.probe_id = c.probe_id
       |ORDER BY rung, np, probe_id""".stripMargin

  /** Fused-pipeline replay: resize(2) → gray → histogram(8) in closed
    * form — 12 ord terms and 4 nested floors per gray pixel, then the
    * bucket rollup over the zero-including grid. Shared by
    * mm_pipeline and its PNG-composed twin (decode∘encode = id). */
  private val mmPipelineSql: String =
    """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |e AS (SELECT *, W // 2 AS W2, H // 2 AS H2 FROM d),
        |pos AS (SELECT doc_id, text, L, W, W2, H2,
        |    unnest(generate_series(0, CAST(W2*H2 - 1 AS INT))) AS p
        |  FROM e),
        |x AS (SELECT doc_id, p, text, L, W,
        |    (p // W2) AS y2, (p % W2) AS x2 FROM pos),
        |g AS (SELECT doc_id,
        | ((  (ord(substr(text, CAST((((2*y2  )*W + 2*x2  )*3+0) % L AS INT)+1,1))
        |    + ord(substr(text, CAST((((2*y2  )*W + 2*x2+1)*3+0) % L AS INT)+1,1))
        |    + ord(substr(text, CAST((((2*y2+1)*W + 2*x2  )*3+0) % L AS INT)+1,1))
        |    + ord(substr(text, CAST((((2*y2+1)*W + 2*x2+1)*3+0) % L AS INT)+1,1))) // 4
        |  + (ord(substr(text, CAST((((2*y2  )*W + 2*x2  )*3+1) % L AS INT)+1,1))
        |    + ord(substr(text, CAST((((2*y2  )*W + 2*x2+1)*3+1) % L AS INT)+1,1))
        |    + ord(substr(text, CAST((((2*y2+1)*W + 2*x2  )*3+1) % L AS INT)+1,1))
        |    + ord(substr(text, CAST((((2*y2+1)*W + 2*x2+1)*3+1) % L AS INT)+1,1))) // 4
        |  + (ord(substr(text, CAST((((2*y2  )*W + 2*x2  )*3+2) % L AS INT)+1,1))
        |    + ord(substr(text, CAST((((2*y2  )*W + 2*x2+1)*3+2) % L AS INT)+1,1))
        |    + ord(substr(text, CAST((((2*y2+1)*W + 2*x2  )*3+2) % L AS INT)+1,1))
        |    + ord(substr(text, CAST((((2*y2+1)*W + 2*x2+1)*3+2) % L AS INT)+1,1))) // 4
        |  ) // 3) AS gv
        | FROM x),
        |bs AS (SELECT unnest(generate_series(0, 7)) AS b),
        |grid AS (SELECT doc_id, b
        |         FROM (SELECT DISTINCT doc_id FROM d) CROSS JOIN bs),
        |cnt AS (SELECT doc_id, (gv*8) // 256 AS b, count(*) AS n
        |        FROM g GROUP BY 1, 2)
        |SELECT grid.doc_id, CAST(grid.b AS INT) AS b,
        |  CAST(coalesce(cnt.n, 0) AS BIGINT) AS cnt
        |FROM grid LEFT JOIN cnt
        |  ON cnt.doc_id = grid.doc_id AND cnt.b = grid.b
        |ORDER BY 1, 2""".stripMargin

  // ---- queries ----

  /** Spark half of [[substringSelfBody]]: every doc_id % 7 = 3
    * document re-appends its own first 80 bytes, injecting the
    * within-document repeats the selfspans/withinDoc-rewrite rows
    * gate on. */
  private def selfRepeatCorpus(corpus: DataFrame): DataFrame =
    corpus.withColumn("text",
      when(col("doc_id") % 7 === 3,
        concat(col("text"), lit(" "), expr("substring(text, 1, 80)")))
        .otherwise(col("text")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dedup_exact" -> ((s, d) =>
      Dedup.exactDuplicates(Dedup.augmentCorpus(Tables.documents(s, d)))
        .orderBy("keep_id")),

    // Signatures via the codegen'd one-pass MinHashSigs expression —
    // no shingle explode/aggregate shuffle; output proven bit-equal to
    // the aggregate path (PipelinePropertySpec) and to the oracle.
    // THE pinned legacy v1-contract chain (md5('k:'||shingle) family):
    // every other LSH consumer runs the one-digest v2 family; this one
    // stays v1 deliberately — migrating it would duplicate dedup_lsh_v2
    // verbatim, and it is the only oracle gate on the fused v1
    // signature expression.
    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.lshCandidatePairs(Dedup.minhashSignaturesFused(
        Dedup.augmentCorpus(Tables.documents(s, d))))
        .orderBy("id_a", "id_b")),

    // Skew-guarded expansion forced into its salted path (maxBucket=2:
    // every 3+-doc bucket splits) — the oracle is the UNguarded LSH
    // candidate SQL, gating that salting preserves the exact pair set.
    // v2 signatures: the guard property is family-independent and the
    // one-digest family is the recommended production chain.
    "dedup_lsh_skew_guarded" -> ((s, d) =>
      Dedup.lshCandidatePairsSkewGuarded(Dedup.minhashSignaturesV2(
        Dedup.augmentCorpus(Tables.documents(s, d))),
        maxBucket = 2, sep = "|")
        .orderBy("id_a", "id_b")),

    // v2 signature family: one digest per shingle (vs numHashes in the
    // v1 md5('k:'||shingle) contract) — the signatures themselves are
    // the gated surface, h1..h6 as signed BIGINT.
    "dedup_minhash_v2" -> ((s, d) =>
      Dedup.minhashSignaturesV2(Dedup.augmentCorpus(Tables.documents(s, d)))
        .orderBy("doc_id")),

    // Full v2 LSH chain: banding over the BIGINT signatures (sep="|" —
    // decimal renderings are variable-width) → same bucket-expand
    // machinery as v1. The pair set differs from v1's (different hash
    // family), so it gates against its own chain SQL.
    "dedup_lsh_v2" -> ((s, d) =>
      Dedup.lshCandidatePairs(Dedup.minhashSignaturesV2(
        Dedup.augmentCorpus(Tables.documents(s, d))), sep = "|")
        .orderBy("id_a", "id_b")),

    // Jaccard verification over v2 LSH candidates (one digest per
    // shingle, no per-candidate-pair cost change: the verify join is
    // on the shingle table either way).
    "dedup_ngram_jaccard" -> ((s, d) => {
      val corpus = Dedup.augmentCorpus(Tables.documents(s, d))
      Dedup.jaccardPairs(Dedup.shingles(corpus),
        Dedup.lshCandidatePairs(Dedup.minhashSignaturesV2(corpus),
          sep = "|"))
        .filter(col("jaccard") >= 0.5)
        // raw: jaccard is one division of exact intersection/union
        // counts — bit-identical across engines; rounding an int-ratio
        // can land exactly half-way (the q_tpch_q2 drift class)
        .select(col("id_a"), col("id_b"), col("jaccard").as("jac_r"))
        .orderBy("id_a", "id_b")
    }),

    // Asymmetric shingle containment over LSH candidates: the injected
    // near-duplicates (3 appended tokens) show the signal — the
    // original is FULLY contained (containment_a = 1.0) while Jaccard
    // and containment_b stay below 1.
    // v2-candidate chain: the fused one-digest signatures replace the
    // shingle-aggregate v1 signatures (4.8x cheaper at production
    // width); the containment verify still joins the shingle table.
    "dedup_containment" -> ((s, d) => {
      val corpus = Dedup.augmentCorpus(Tables.documents(s, d))
      Dedup.containmentPairs(Dedup.shingles(corpus),
        Dedup.lshCandidatePairs(Dedup.minhashSignaturesV2(corpus),
          sep = "|"))
        .orderBy("id_a", "id_b")
    }),

    // Substring-level duplication mass (Lee et al. 2022 at 5-gram
    // granularity): per document, the fraction of its distinct word
    // n-grams that occur in any other document. The injected exact
    // duplicates provably score 1.0.
    "dedup_substring_mass" -> ((s, d) =>
      Dedup.duplicationMass(Dedup.augmentCorpus(Tables.documents(s, d)))
        .orderBy("doc_id")),

    // C4-style segment-level corpus REWRITE: fixed 10-word segments,
    // any segment shared by >= 2 distinct docs drops corpus-wide, each
    // doc reassembles from its survivors in order — the cleaned corpus
    // a pipeline actually feeds downstream plus per-doc audit counts
    // (dedup_substring_mass MEASURES duplication; this one CUTS it).
    "dedup_segments" -> ((s, d) =>
      Dedup.segmentDedup(Dedup.augmentCorpus(Tables.documents(s, d)))
        .orderBy("doc_id")),

    // The WIDE-KEY twin — the escape hatch the collision guard's
    // raise_error prescribes: segments key on struct(xxhash64(seg),
    // length(seg)) instead of the bare 64-bit hash, pushing the
    // birthday bound past any corpus. The key is internal (never
    // emitted), so the oracle is dedup_segments' replay verbatim —
    // gating this row every round pins that the remediation path
    // stays semantically identical to the production key, not just
    // spec-pinned once.
    "dedup_segments_wide" -> ((s, d) =>
      Dedup.segmentDedup(Dedup.augmentCorpus(Tables.documents(s, d)),
          wideKey = true)
        .orderBy("doc_id")),

    // Cross-document EXACT-SUBSTRING span dedup (Lee et al. 2022 at
    // the winnowing shape): winnowed rolling-hash fingerprints
    // bucket-join across the corpus — the window bytes ride in the
    // join key, so every match is a verified verbatim 16-byte
    // substring — and same-offset-delta matches merge into maximal
    // shared spans ≥ 40 bytes with byte offsets in BOTH documents.
    // The injected exact duplicates surface as whole-document spans;
    // the near-dups (appended tokens) as full-prefix spans. Oracle
    // replays the same rolling hash (the text_rolling_fingerprint
    // recursive CTE, per-position), the same rightmost-min winnowing
    // selection, and the same gap-split merge.
    "dedup_substring_spans" -> ((s, d) =>
      Dedup.substringSpans(Dedup.augmentCorpus(Tables.documents(s, d)))
        .orderBy("id_a", "id_b", "start_a", "start_b")),

    // Cross-CORPUS span decontamination: the same winnowed-fingerprint
    // machinery between TWO datasets — every (corpus doc, benchmark
    // doc) pair sharing a verbatim span ≥ 40 bytes, with offsets in
    // both. Generalizes text_decontaminate's fixed 8-gram hit to
    // HOW-MUCH-leaked spans; the benchmark here is the original
    // doc_id % 25 slice, so leaks provably exist (those docs are in
    // the corpus verbatim) and the oracle replays the reference side
    // as the matching sel rows.
    "dedup_substring_decontam" -> ((s, d) =>
      Dedup.substringSpansAgainst(
        Dedup.augmentCorpus(Tables.documents(s, d)),
        Tables.documents(s, d).filter(col("doc_id") % 25 === 0)
          .select(col("doc_id"), col("text")))
        .orderBy("doc_id", "ref_id", "start", "ref_start")),

    // The REWRITE half of exact-substring dedup (Lee et al. 2022 §4's
    // actual cleanup step): each shared span keeps its first
    // occurrence (lowest doc_id) and is cut from the later document;
    // docs reassemble from the byte-interval complement of their
    // merged removals. The injected exact duplicates (+100000) lose
    // essentially their whole body; their originals survive intact.
    "dedup_substring_rewrite" -> ((s, d) =>
      Dedup.substringDedupCorpus(
        Dedup.augmentCorpus(Tables.documents(s, d)))
        .orderBy("doc_id")),

    // The span expansion FORCED into its salted path (maxBucket = 2:
    // every 3+-fingerprint bucket splits into hash salts, within-salt
    // expansion + salt-ordered cross join) — the oracle is the
    // UNguarded span replay, gating that a hot (hash, window) key's
    // pair set survives the guard bit-identically. The LSH precedent
    // (dedup_lsh_skew_guarded) at the substring shape; discharges the
    // one 100-TB scale-killer the round-18 audit named.
    "dedup_substring_skew_guarded" -> ((s, d) =>
      Dedup.substringSpans(Dedup.augmentCorpus(Tables.documents(s, d)),
        maxBucket = 2)
        .orderBy("id_a", "id_b", "start_a", "start_b")),

    // WITHIN-document repeated spans (Lee et al. 2022 §4 removes
    // within-doc duplicates too — web boilerplate makes them a large
    // duplication share): every maximal span >= 40 bytes occurring
    // verbatim twice inside one document, at occurrence gap >= the
    // 16-byte window. The synthetic corpus has no natural >= 40-byte
    // self-repeats (and the injected duplicates duplicate ACROSS
    // docs), so every doc_id % 7 = 3 document re-appends its own
    // first 80 bytes — a known positive the oracle mirrors.
    "dedup_substring_selfspans" -> ((s, d) =>
      Dedup.substringSelfSpans(selfRepeatCorpus(
        Dedup.augmentCorpus(Tables.documents(s, d))))
        .orderBy("doc_id", "start_first", "start_second")),

    // The rewrite with withinDoc = true over the same self-repeat
    // fixture: keep-first surgery where a document's own later
    // repeats are cut alongside the cross-doc duplicates — one
    // unified matched frame, one removal projection (the cut side is
    // (id_b, start_b) in both cases).
    "dedup_substring_rewrite_self" -> ((s, d) =>
      Dedup.substringDedupCorpus(selfRepeatCorpus(
        Dedup.augmentCorpus(Tables.documents(s, d))), withinDoc = true)
        .orderBy("doc_id")),

    // The cross-corpus matcher through the TWO-SIDED skew guard at
    // its adversarial setting (maxBucket = 2: every co-occurring
    // bucket 2-D salts) against the unguarded decontam oracle —
    // pins that corpus-hot windows can't quadratically concentrate
    // AND that the guard never perturbs the span set.
    "dedup_substring_decontam_guarded" -> ((s, d) =>
      Dedup.substringSpansAgainst(
        Dedup.augmentCorpus(Tables.documents(s, d)),
        Tables.documents(s, d).filter(col("doc_id") % 25 === 0)
          .select(col("doc_id"), col("text")), maxBucket = 2)
        .orderBy("doc_id", "ref_id", "start", "ref_start")),

    // INCREMENTAL substring-span dedup — the persisted fingerprint
    // layout's full lifecycle in one row: write the index on half the
    // reference slice, APPEND the other half against the stored
    // log (window/winnowW pinned, name+type append gate), then
    // serve the corpus's spans FROM THE FILES — history fingerprints
    // are read, never recomputed; the history frame supplies only the
    // extension refine's bytes. Winnowing is per-document, so the
    // served spans must equal the monolithic cross-corpus replay
    // bit-for-bit — the oracle IS dedup_substring_decontam's
    // (%50==0 ∪ %50==25 ≡ %25==0).
    "dedup_substring_append" -> ((s, d) => {
      val ref = Tables.documents(s, d).filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
      val dir = FlowLogQueries.scratchDir("graft_subfp_idx")
      Dedup.writeSubstringFpIndex(ref.filter(col("doc_id") % 50 === 0),
        dir)
      Dedup.appendSubstringFpIndex(s,
        ref.filter(col("doc_id") % 50 === 25), dir)
      Dedup.substringSpansAgainstIndex(s,
        Dedup.augmentCorpus(Tables.documents(s, d)), ref, dir)
        .orderBy("doc_id", "ref_id", "start", "ref_start")
    }),

    // Decontamination SCRUB — the composition the decontam row's
    // scaladoc used to only document: every corpus span matching a
    // reference (benchmark) doc >= 40 bytes is CUT via the same
    // interval surgery as the rewrite; untouched docs pass through.
    // Reference = the original doc_id % 25 slice, so the injected
    // verbatim leaks provably lose their bodies.
    "dedup_substring_scrub" -> ((s, d) =>
      Dedup.substringScrub(
        Dedup.augmentCorpus(Tables.documents(s, d)),
        Tables.documents(s, d).filter(col("doc_id") % 25 === 0)
          .select(col("doc_id"), col("text")))
        .orderBy("doc_id")),

    // Incremental SCRUB — the persisted-layout composition of the two
    // rows above: the reference corpus lives only as its fingerprint
    // index (write half, append half), and the incoming corpus is
    // scrubbed against it from the files. Must equal the in-memory
    // scrub bit-for-bit, hence the shared oracle.
    "dedup_substring_scrub_incr" -> ((s, d) => {
      val ref = Tables.documents(s, d).filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
      val dir = FlowLogQueries.scratchDir("graft_subfp_scrub")
      Dedup.writeSubstringFpIndex(ref.filter(col("doc_id") % 50 === 0),
        dir)
      Dedup.appendSubstringFpIndex(s,
        ref.filter(col("doc_id") % 50 === 25), dir)
      Dedup.substringScrubFromIndex(s,
        Dedup.augmentCorpus(Tables.documents(s, d)), ref, dir)
        .orderBy("doc_id")
    }),

    // NB: Dedup.simhashPairs (banded near-dup pair join) is part of the
    // operator library (PipelineSpec covers it) but has no query entry:
    // the synthetic corpus draws from a tiny vocabulary, so its 16-bit
    // simhashes over-cluster and the pair set is quadratic in corpus
    // size (measured ~1.1M pairs at sf0.1 even with a 32-bit variant) —
    // an artifact of the test data, not a meaningful benchmark result.
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhash(Dedup.augmentCorpus(Tables.documents(s, d)))
        .orderBy("doc_id")),

    "dedup_embed_cosine" -> ((s, d) =>
      Similarity.cosineDupPairs(
        Similarity.augmentVectors(Tables.embeddings(s, d)), 0.8)
        .orderBy("id_a", "id_b")),

    // Skew-guarded twin of dedup_embed_cosine, gated at the WORST case
    // (maxLabel = 2: every label oversized, fully salted) against the
    // UNGUARDED oracle SQL — the same adversarial pinning
    // dedup_lsh_skew_guarded uses. Output must be bit-identical.
    "dedup_embed_cosine_guarded" -> ((s, d) =>
      Similarity.cosineDupPairsGuarded(
        Similarity.augmentVectors(Tables.embeddings(s, d)), 0.8,
        maxLabel = 2)
        .orderBy("id_a", "id_b")),

    // SemDeDup over the augmented corpus: per-cluster cosine pairs →
    // lowest-id-wins drop decision for every vector. The injected exact
    // duplicates (cos == 1.0) are provably dropped; near-dups within a
    // label blob fall wherever the 0.8 threshold puts them.
    "dedup_semantic" -> ((s, d) =>
      Similarity.semanticDedup(
        Similarity.augmentVectors(Tables.embeddings(s, d)), 0.8)
        .orderBy("vec_id")),

    // The full semantic-dedup canonicalization chain a production
    // embedding pipeline runs end-to-end: cosine near-dup pairs
    // (label-blocked, quadratic only within a cluster) → connected
    // components over the pair graph → one canonical representative
    // (minimum id) per cluster for EVERY vector. Unlike
    // [[Similarity.semanticDedup]]'s single-pass lowest-id-wins drop,
    // the component closure keeps exactly one doc per TRANSITIVE
    // cluster — chains A~B~C collapse to one survivor, not two. Same
    // scale shape as dedup_components: the label table (only vectors
    // in some dup pair) broadcasts back over the corpus.
    "dedup_semantic_components" -> ((s, d) => {
      val vecs = Similarity.augmentVectors(Tables.embeddings(s, d))
      val pairs = Similarity.cosineDupPairs(vecs, 0.8)
        .select(col("id_a"), col("id_b"))
      graft.operators.ConnectedComponents.canonicalize(
          vecs.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("component"),
          col("is_canonical"))
        .orderBy("vec_id")
    }),

    // Label-free semantic dedup: when no cluster labels exist (the
    // usual 100 TB case), the pair generator is the SELF-INDEXED k-NN
    // join — corpus blocked by each vector's own nearest centroid, so
    // an exact duplicate (identical vector ⇒ identical index cell ⊆
    // the probe's cells) is found at ANY nprobe; the quadratic term
    // lives inside quantizer cells, never n². Thresholded to near-dup
    // edges, closed into components, one canonical per cluster: the
    // τ=0.99 edge set here is exactly the injected duplicate pairs
    // (PipelineSpec pins that end-to-end). Edges normalized
    // least/greatest + distinct: the k-NN relation is directed and may
    // or may not be mutual.
    "dedup_knn_components" -> ((s, d) => {
      val vecs = Similarity.augmentVectors(Tables.embeddings(s, d))
      val pairs = Similarity.knnJoinIndexed(vecs, 3, nprobe = 2)
        .filter(col("cos_r") >= 0.99)
        .select(least(col("probe_id"), col("neighbor_id")).as("id_a"),
          greatest(col("probe_id"), col("neighbor_id")).as("id_b"))
        .distinct()
      graft.operators.ConnectedComponents.canonicalize(
          vecs.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("component"),
          col("is_canonical"))
        .orderBy("vec_id")
    }),

    // Cosine radius search: all corpus neighbors within τ=0.2 of each
    // probe — broadcast probes, map-side threshold filter, zero
    // shuffles, no per-probe state.
    "sim_range_search" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.rangeSearch(vecs, vecs.filter(col("vec_id") < 10), 0.2)
        .orderBy("probe_id", "neighbor_id")
    }),

    "sim_topk_bruteforce" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 10), 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy("probe_id", "rnk")
    }),

    // Same computation as sim_topk_bruteforce through a typed bounded
    // top-k Aggregator instead of a ranking window — shares that query's
    // oracle, proving the custom aggregation path exact.
    "sim_topk_aggregator" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.bruteForceTopKAgg(vecs, vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    "sim_ivf_topk" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 15), 3)
        .withColumnRenamed("rank", "rnk")
        .select(col("probe_id"), col("assigned_label"), col("neighbor_id"),
          col("cos_r"), col("rnk"))
        .orderBy("probe_id", "rnk")
    }),

    // Multi-probe IVF (nprobe=2): each probe searches its TWO nearest
    // cells — the standard recall knob. Oracle differs from
    // sim_ivf_topk only by rn <= 2 in the assignment.
    "sim_ivf_nprobe" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 15), 3, nprobe = 2)
        .withColumnRenamed("rank", "rnk")
        .select(col("probe_id"), col("assigned_label"), col("neighbor_id"),
          col("cos_r"), col("rnk"))
        .orderBy("probe_id", "rnk")
    }),

    // Inverted multi-index (two independent half-vector quantizers,
    // k² virtual cells from 2·k sub-distances): the scale path when
    // the coarse quantizer itself outgrows a per-probe scan — see
    // [[Similarity.imiTopK]]. nprobe=2 scans the two cell PAIRS with
    // the smallest summed half-distances; corpus rows are indexed in
    // their rank-1 pair, so candidates never duplicate.
    "sim_imi_topk" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      Similarity.imiTopK(vecs, vecs.filter(col("vec_id") < 15), 3,
          nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Multi-D-ADC + exact refine (Babenko & Lempitsky 2012 §5 + the
    // Jégou 2011 §V refine): the multi-index with m-byte RESIDUAL
    // codes in its virtual cells — v − [cent0(c0); cent1(c1)] PQ-
    // encoded — served by ADC table lookups over the probed pairs,
    // then a depth-40 exact-cosine re-rank of the shortlist. The
    // composition that makes the multi-index's bytes story work at
    // 10⁹ vectors: candidates cost m B instead of 512 B, exact math
    // is shortlist-bounded. sim_imi_topk above stays the raw-float
    // variant — the pair documents the trade-off, and the recall
    // curve's imipq rung measures it.
    "sim_imipq_topk" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      Similarity.imiPqTopK(vecs, vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // Persisted Multi-D-ADC round-trip (the 13th persisted layout):
    // half codebooks + residual codebook + m-byte pair-residual codes
    // written pair-partitioned (the corpus's only stored form — raw
    // floats appear nowhere in the index), then served from the files
    // with the shortlist re-ranked over the supplied floats.
    // Bit-identical to the in-memory sim_imipq_topk (shared oracle).
    "sim_imipq_persist" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imipq_idx")
      Similarity.writeImiPqIndex(vecs, Similarity.imiSubCentroids(vecs),
        dir)
      Similarity.searchImiPqIndex(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // Append leg: build on the even half with BOTH quantizer levels
    // trained on the full corpus (the trainer/indexer separation the
    // write signature exists for), append the odd half against the
    // STORED state — the served union must equal the monolithic
    // build, hence the shared oracle.
    "sim_imipq_append" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imipq_app")
      Similarity.writeImiPqIndex(vecs.filter(col("vec_id") % 2 === 0),
        Similarity.imiSubCentroids(vecs), dir,
        quantizer = Some(vecs))
      Similarity.appendImiPqIndex(s, vecs.filter(col("vec_id") % 2 === 1),
        dir)
      Similarity.searchImiPqIndex(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // Tombstone-delete leg: deleted ids mask from the CODE table
    // before the ADC shortlist (the fleet contract — a deleted row
    // can never even be nominated); oracle = the shared replay with
    // those ids excluded from the live codes.
    "sim_imipq_delete" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imipq_del")
      Similarity.writeImiPqIndex(vecs, Similarity.imiSubCentroids(vecs),
        dir)
      Similarity.deleteFromIvfIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.searchImiPqIndex(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // COMPACTION of the code-only pair layout (the shared per-pair
    // leaf replace); physical reclamation must serve bit-identically
    // to the tombstone mask it replaces — same oracle as the delete.
    "sim_imipq_compact" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imipq_cmp")
      Similarity.writeImiPqIndex(vecs, Similarity.imiSubCentroids(vecs),
        dir)
      Similarity.deleteFromIvfIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.compactImiPqIndex(s, dir)
      Similarity.searchImiPqIndex(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // Metadata-FILTERED Multi-D-ADC serve: the label predicate pushes
    // to the stored pair-partitioned CODE scan (metadata rides beside
    // the m-byte codes since fmt 2), so candidates filter BEFORE the
    // ADC shortlist — the depth budget is spent entirely on matching
    // rows, equivalent to a pre-filtered index without building one
    // (sim_imi_filtered's contract at the encoded shape).
    "sim_imipq_filtered" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imipq_filt")
      Similarity.writeImiPqIndex(vecs, Similarity.imiSubCentroids(vecs),
        dir)
      Similarity.searchImiPqIndexWhere(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), 5, col("label") % 2 === 0)
        .orderBy("probe_id", "rnk")
    }),

    // Range mode of the Multi-D-ADC serve: approximate ADC distances
    // GATE the depth-40 shortlist, the exact refine applies the radius
    // (cos ≥ τ over the refined cosines, no ranking window) — the
    // standard approximate-range composition; a true neighbor below
    // the shortlist depth is not seen (rerankDepth is the dial,
    // measured by the recall curve).
    "sim_imipq_range" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imipq_rng")
      Similarity.writeImiPqIndex(vecs, Similarity.imiSubCentroids(vecs),
        dir)
      Similarity.searchImiPqIndexRange(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), tau = 0.2)
        .orderBy("probe_id", "neighbor_id")
    }),

    // AUTO-depth Multi-D-ADC serve: rerankDepth = AutoRerankDepth
    // derives the shortlist depth from the STORED code table's pair
    // occupancy at serve time (max(k, 40, max-pair-occupancy) — the
    // imiSuggestedRerankDepth rule at q = 1), so a clustered corpus
    // can't silently cap recall at the fixed 40. The oracle computes
    // the same depth as a scalar subquery over the replayed pair
    // index — the depth RULE is driver-gated, not just spec-pinned.
    "sim_imipq_auto" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imipq_auto")
      Similarity.writeImiPqIndex(vecs, Similarity.imiSubCentroids(vecs),
        dir)
      Similarity.searchImiPqIndex(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), 5,
          rerankDepth = Similarity.AutoRerankDepth)
        .orderBy("probe_id", "rnk")
    }),

    // Pair-occupancy health view of the multi-index — sim_index_stats
    // at the pair shape: occupancy/share/balance per occupied virtual
    // cell, the mega-pair and collapsed-half detector a serving
    // deployment watches to decide when to re-train the half
    // codebooks.
    "sim_imi_stats" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      Similarity.imiPairStats(vecs, Similarity.imiSubCentroids(vecs))
        .orderBy("c0", "c1")
    }),

    // The TRAINED multi-index — train → index → search with no labels
    // anywhere (hash-seeded Lloyd per half, the production
    // composition, sim_ivf_kmeans's analog at the two-level shape).
    "sim_imi_kmeans" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.imiTrainedTopK(vecs, vecs.filter(col("vec_id") < 15),
          3, kSub = 8, iters = 2, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Recall-vs-bytes operating points of the trained multi-index —
    // the IMI counterpart of sim_recall_curve: exact-integer recall
    // overlap and exact bytes per serve (candidates × 512 B over the
    // pair-partitioned layout) at nprobe ∈ {1,2,4,8}. At equal nprobe
    // the IMI's candidate set is ~k× smaller than the single-level
    // curve's (k²-granular cells) — the frame a deployment reads to
    // pick the two-level rung.
    // Round 17: the curve gained a second RUNG — 'imi' (raw floats,
    // cand × 512 B) vs 'imipq' (Multi-D-ADC over the SAME trained
    // quantizer: cand × 4 B of codes + the depth-40 refine fetch) —
    // so the artifact directly answers "what do the same probed pairs
    // cost under each cell encoding".
    "sim_imi_curve" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.imiRecallCurve(vecs, vecs.filter(col("vec_id") < 10), 3)
        .orderBy("rung", "np", "probe_id")
    }),

    // The curve on a CLUSTERED corpus — the fixture the multi-index is
    // FOR (sf embeddings are structureless, IMI's adversarial case;
    // this twin records the other half of the pick-IMI guidance):
    // each vector snaps to its (label % 8) ±1-pattern center plus
    // 0.1× the original embedding as noise, deterministically — no
    // randomness, so the DuckDB replay transforms identically. Same
    // trained chain, same rungs, same bytes accounting.
    "sim_imi_curve_clustered" -> ((s, d) => {
      // The synthesized fixture is materialized ONCE (inside the
      // timed query): the per-element CASE/pow lambda is interpreted
      // and the curve's trainings + rung branches would otherwise
      // re-evaluate it per consumer (measured 1.5× of the row).
      // Values are unchanged — the oracle re-gates bit-identically.
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .selectExpr("vec_id",
          "transform(v, (x, i) -> (CASE WHEN ((label % 8) DIV " +
            "CAST(pow(2, i % 3) AS INT)) % 2 = 1 THEN 1.0D ELSE -1.0D " +
            "END) + 0.1D * x) AS v")
        .localCheckpoint()
      Similarity.imiRecallCurve(vecs, vecs.filter(col("vec_id") < 10), 3)
        .orderBy("rung", "np", "probe_id")
    }),

    // The curve probed by EXTERNAL vectors (members shifted out of
    // the id space and displaced +0.25 per dimension — deterministic,
    // so the replay transforms identically): no probe holds an index
    // row, nothing subtracts from the candidate counts, and the
    // membership-checked accounting must be exact — the driver-gated
    // form of the round-18 external-probe claim.
    "sim_imi_curve_external" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val probes = vecs.filter(col("vec_id") < 10)
        .selectExpr("vec_id + 10000000 AS vec_id",
          "transform(v, x -> x + 0.25D) AS v")
      Similarity.imiRecallCurve(vecs, probes, 3)
        .orderBy("rung", "np", "probe_id")
    }),

    // Persisted multi-index: codebooks + pair-partitioned corpus
    // written once, then served — bit-identical to the in-memory twin
    // (double codebook means round-trip parquet exactly), so it shares
    // sim_imi_topk's oracle. The serve scan partition-prunes on BOTH
    // pair keys.
    "sim_imi_persist" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imi_idx")
      Similarity.writeImiIndex(vecs, Similarity.imiSubCentroids(vecs), dir)
      Similarity.searchImiIndex(s, dir, vecs.filter(col("vec_id") < 15),
        3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Append leg: build on the even half, append the odd half against
    // the STORED codebooks (trained on the full corpus — the trainer/
    // indexer separation writeImiIndex's signature exists for); the
    // served union must equal the monolithic build, hence the shared
    // oracle.
    "sim_imi_append" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imi_app")
      Similarity.writeImiIndex(vecs.filter(col("vec_id") % 2 === 0),
        Similarity.imiSubCentroids(vecs), dir)
      Similarity.appendImiIndex(s, vecs.filter(col("vec_id") % 2 === 1),
        dir)
      Similarity.searchImiIndex(s, dir, vecs.filter(col("vec_id") < 15),
        3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Tombstone-delete leg: every 7th vector masked at serve via the
    // broadcast anti-join; oracle = the shared replay with those ids
    // excluded from the index side.
    "sim_imi_delete" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imi_del")
      Similarity.writeImiIndex(vecs, Similarity.imiSubCentroids(vecs), dir)
      Similarity.deleteFromIvfIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.searchImiIndex(s, dir, vecs.filter(col("vec_id") < 15),
        3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Range mode of the persisted multi-index: all neighbors in the
    // probed pairs with cos ≥ τ — the thresholded tail over the same
    // scored frame as the top-k serve, no ranking window.
    "sim_imi_range" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imi_rng")
      Similarity.writeImiIndex(vecs, Similarity.imiSubCentroids(vecs), dir)
      Similarity.searchImiIndexRange(s, dir,
        vecs.filter(col("vec_id") < 15), tau = 0.2, nprobe = 2)
        .orderBy("probe_id", "neighbor_id")
    }),

    // Metadata-FILTERED multi-index serve: the label predicate pushes
    // to the stored pair-partitioned scan — equivalent to a
    // pre-filtered index without building one (the flat layout's
    // filtered-serve contract at the pair shape).
    "sim_imi_filtered" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imi_filt")
      Similarity.writeImiIndex(vecs, Similarity.imiSubCentroids(vecs), dir)
      Similarity.searchImiIndexWhere(s, dir,
        vecs.filter(col("vec_id") < 15), 3, nprobe = 2,
        col("label") % 2 === 0)
        .orderBy("probe_id", "rnk")
    }),

    // COMPACTION of the multi-index (per-PAIR leaf replace over the
    // two-level partitioning); same oracle as its delete — physical
    // reclamation must serve bit-identically to the tombstone mask it
    // replaces, the fleet-wide contract.
    "sim_imi_compact" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_imi_cmp")
      Similarity.writeImiIndex(vecs, Similarity.imiSubCentroids(vecs), dir)
      Similarity.deleteFromIvfIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.compactImiIndex(s, dir)
      Similarity.searchImiIndex(s, dir, vecs.filter(col("vec_id") < 15),
        3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // IVF-blocked k-NN self-join: every vector gets its 3 nearest
    // others, scanning only its 2 nearest cells — the corpus-wide
    // embedding-linking operator. No broadcast on the corpus path:
    // probe and cell sides co-partition on the cell key.
    "sim_knn_join" -> ((s, d) =>
      Similarity.knnJoin(
        Similarity.vectors(Tables.embeddings(s, d)), 3, nprobe = 2)
        .orderBy("probe_id", "rnk")),

    // Self-indexed twin of sim_knn_join (corpus blocked by its own
    // nearest centroid, not its label) — the dedup-grade variant with
    // the exact-duplicate guarantee; see [[Similarity.knnJoinIndexed]].
    "sim_knn_join_indexed" -> ((s, d) =>
      Similarity.knnJoinIndexed(
        Similarity.vectors(Tables.embeddings(s, d)), 3, nprobe = 2)
        .orderBy("probe_id", "rnk")),

    // sim_knn_join_indexed served from a PERSISTED assignment index:
    // the ranked (probe_id, cell, rn) table is written once — the
    // corpus×centroids distance aggregation runs exactly once at
    // build, not once per consuming branch — and the serve leg reads
    // it for both the rn=1 corpus blocking and the rn≤2 probe
    // expansion. All-integer table ⇒ parquet-exact ⇒ same oracle as
    // the in-memory twin.
    "sim_knn_join_persist" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_knn_assign")
      Similarity.writeKnnAssignIndex(vecs, dir, nprobe = 2)
      Similarity.knnJoinFromIndex(s, dir, vecs, 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Deletion from the persisted assignment index — the last serving
    // layout's delete leg: a deleted vector's rows key on its own id,
    // so one broadcast anti-join removes it from BOTH roles (it
    // neither probes nor serves as a neighbor); stored assignments —
    // the quantizer — stay fixed, same contract as the IVF
    // tombstones. Oracle: the self-indexed replay with the deleted
    // ids excluded from the participants while the label centroids
    // stay full-corpus.
    "sim_knn_join_delete" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_knn_del")
      Similarity.writeKnnAssignIndex(vecs, dir, nprobe = 2)
      Similarity.deleteFromIvfIndex(s,
        vecs.filter(col("vec_id") % 6 === 0).select(col("vec_id")), dir)
      Similarity.knnJoinFromIndex(s, dir, vecs, 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Brute-force ANN through the custom TopKPerKey physical operator
    // (bounded per-probe heaps instead of a ranking window sort) —
    // same scoring expression, same determinism contract (rounded
    // cosine then neighbor id as a total order).
    "sim_topk_native" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val scored = Similarity.scoreAll(vecs, vecs.filter(col("vec_id") < 10))
      graft.plans.TopKPerKey(scored, Seq(col("probe_id")),
        Seq(col("cos_r").desc, col("neighbor_id").asc), 5)
        .orderBy(col("probe_id"), col("cos_r").desc, col("neighbor_id"))
    }),

    // Per-dimension percentile clipping (the outlier guard before
    // quantization) — bounds via the bounded-state distribution
    // percentiles, broadcast back over the exploded corpus.
    "sim_winsorize" -> ((s, d) =>
      Similarity.winsorize(
        Similarity.vectors(Tables.embeddings(s, d))
          .select(col("vec_id"), col("v")))
        .orderBy("vec_id", "dim")),

    // Symmetric int8 quantization (per-vector scale, per-dim rounding).
    "sim_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(
        Similarity.vectors(Tables.embeddings(s, d))
          .select(col("vec_id"), col("v")))
        .orderBy("vec_id", "dim")),

    // Product quantization: 4 subspaces × 8 codebook entries (seeded
    // from the first 8 vectors), argmin-L2² code per subspace plus the
    // per-vector quantization error — the IVF-PQ compression stage.
    "sim_pq_codes" -> ((s, d) =>
      Similarity.productQuantize(
        Similarity.vectors(Tables.embeddings(s, d))
          .select(col("vec_id"), col("v")), m = 4, k = 8)
        .orderBy("vec_id")),

    // ADC top-k (IVF-PQ stage 3): probes score the PQ-compressed corpus
    // via per-subspace distance-table lookups — no full-vector math on
    // the corpus side.
    "sim_adc_topk" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.adcTopK(vecs, vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // IVF index health: per-cell occupancy, share, and balance (1.0 =
    // uniform) over the trained quantizer — the skew monitor a serving
    // deployment watches to decide when to re-train with more cells.
    "sim_index_stats" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      Similarity.ivfCellStats(vecs, cents).orderBy("cell")
    }),

    // Snapshot content diff: added/removed/modified/unchanged per doc
    // between the corpus and a derived second snapshot (every 13th doc
    // edited, every 17th dropped, a batch of new ids) — the ingest
    // delta an incremental pipeline re-processes.
    "pipeline_snapshot_diff" -> ((s, d) => {
      val oldSnap = Tables.documents(s, d)
      val newSnap = oldSnap.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(oldSnap.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      Profiling.snapshotDiff(oldSnap, newSnap).orderBy("doc_id")
    }),

    // Two-stage ADC + exact re-rank: PQ distances nominate 20
    // candidates per probe, exact cosine re-scores ONLY those — the
    // standard refinement buying back quantization error with
    // probe-bounded exact math.
    "sim_adc_rerank" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.adcRerankTopK(vecs, vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // The COMPLETE IVF-PQ stack (Jégou et al. 2011) end-to-end: train
    // 8 coarse cells (2 Lloyd rounds), index every vector under its
    // nearest cell with its 4-byte PQ code, serve probes by ADC over
    // nprobe=2 cells only — coarse blocking bounds candidates, PQ
    // removes full-vector math. Probing all cells degenerates to
    // exactly sim_adc_topk (PipelineSpec pins it).
    "sim_ivfpq_topk" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.ivfPqTopK(vecs, vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // The BY-RESIDUAL refine composition (FAISS's by_residual=true
    // default + refine wrapper): codes encode v − centroid(cell)
    // against a residual codebook, probes build a distance table PER
    // probed cell, and the depth-40 ADC shortlist re-ranks with exact
    // cosine — the deployment rung of the recall curve (measured
    // ≥ ivfbq at every nprobe; SCALING.md round 16). sim_ivfpq_topk
    // above stays the raw-code, no-refine variant (by_residual=false)
    // — the pair documents the standard encoding trade-off.
    "sim_ivfpqr_topk" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.ivfPqrTopK(vecs, vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // Persisted IVF-PQ round-trip: train + residual-encode + write the
    // cell-partitioned CODE table (the corpus's only stored form — the
    // raw vectors appear nowhere in the index), then serve probes from
    // the files with the scan pruned to the consulted cells and the
    // shortlist re-ranked over the supplied floats. Results
    // bit-identical to the in-memory sim_ivfpqr_topk (shared oracle).
    "sim_ivfpq_persist" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_ivfpq_idx")
      Similarity.writeIvfPqIndex(vecs, dir)
      Similarity.searchIvfPqIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // AUTO-depth IVF-PQ serve — sim_imipq_auto's rule at the
    // single-level cell key: rerankDepth derives from the stored code
    // table's CELL occupancy at serve time (max(k, 40,
    // max-cell-occupancy)), driver-gated by the same scalar-subquery
    // oracle shape over the replayed cell index.
    "sim_ivfpq_auto" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_ivfpq_auto")
      Similarity.writeIvfPqIndex(vecs, dir)
      Similarity.searchIvfPqIndex(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), 5,
          rerankDepth = Similarity.AutoRerankDepth)
        .orderBy("probe_id", "rnk")
    }),

    // Incremental PQ ingestion — the sim_ivf_append shape for the
    // compressed layout: the quantizer (centroids + residual codebook)
    // trains on the FULL corpus, the index builds on half, the other
    // half APPENDS with residual codes assigned against the stored
    // quantizer (fixed once trained — FAISS `add`). Because the
    // quantizer saw the full corpus, the served union is bit-identical
    // to the monolithic sim_ivfpq_persist build and gates against the
    // same replay.
    "sim_ivfpq_append" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_ivfpq_app")
      Similarity.writeIvfPqIndex(vecs.filter(col("vec_id") % 2 === 0),
        dir, quantizer = Some(vecs))
      Similarity.appendIvfPqIndex(s,
        vecs.filter(col("vec_id") % 2 =!= 0), dir)
      Similarity.searchIvfPqIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // Tombstone DELETION from the persisted IVF-PQ layout — the
    // removal half next to sim_ivfpq_append's add half, closing the
    // compressed layout's lifecycle at the gated level like
    // sim_ivf_delete/sim_sq8_delete/sim_ivfbq_delete: build on the
    // full corpus, delete every 7th vector, serve. Deleted ids mask
    // from the code table via one broadcast anti-join BEFORE the ADC
    // shortlist ranks (so the shortlist fills with survivors, never
    // ghosts), while quantizer state and codes files are untouched.
    // Oracle: the residual replay with the deleted ids excluded from
    // the code side (probes untouched).
    "sim_ivfpq_delete" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_ivfpq_del")
      Similarity.writeIvfPqIndex(vecs, dir)
      Similarity.deleteFromIvfIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.searchIvfPqIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // COMPACTION of the compressed layout (per-cell rewrite over the
    // 4-byte residual code table); same oracle as its delete. With
    // this row every persisted ANN layout's FULL lifecycle —
    // build/persist/append/delete/compact — is oracle-gated.
    "sim_ivfpq_compact" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_ivfpq_cmp")
      Similarity.writeIvfPqIndex(vecs, dir)
      Similarity.deleteFromIvfIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.compactIvfPqIndex(s, dir)
      Similarity.searchIvfPqIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // Metadata-FILTERED IVF-PQ serve — sim_imipq_filtered's contract
    // at the single-level cell key: the index builds from the LABELED
    // corpus (metadata rides beside the m-byte residual codes), the
    // label predicate pushes to the cell-partitioned code scan, and
    // candidates filter BEFORE the ADC shortlist.
    "sim_ivfpq_filtered" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_ivfpq_filt")
      Similarity.writeIvfPqIndex(vecs, dir)
      Similarity.searchIvfPqIndexWhere(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), 5, col("label") % 2 === 0)
        .orderBy("probe_id", "rnk")
    }),

    // Range mode of the persisted IVF-PQ serve: ADC gates the
    // depth-40 shortlist, the exact refine applies the radius —
    // sim_imipq_range's composition at the cell key. With this pair
    // every quantized persisted layout that can carry metadata serves
    // all three modes (top-k / filtered / range).
    "sim_ivfpq_range" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_ivfpq_rng")
      Similarity.writeIvfPqIndex(vecs, dir)
      Similarity.searchIvfPqIndexRange(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), tau = 0.2)
        .orderBy("probe_id", "neighbor_id")
    }),

    // One k-means Lloyd's update: assign to max-cosine centroid (the
    // first 8 vectors seed the centroids), recompute per-dimension
    // means from exact decimal sums.
    "sim_kmeans_step" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.kmeansUpdateStep(vecs, vecs.filter(col("vec_id") < 8))
        .orderBy("cid", "dim")
    }),

    // Full quantizer training: hash-seeded Lloyd's k-means, TWO
    // unrolled rounds — the label-free IVF cell builder. Every round's
    // means round to 6 dp from exact decimal sums, so the whole
    // trajectory (seed → assign → means → assign → means) is
    // bit-reproducible against the oracle's sequential replay.
    "sim_kmeans_train" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.kmeansTrain(vecs, k = 8, iters = 2)
        .orderBy("cid", "dim")
    }),

    // The production ANN composition end-to-end, no labels anywhere:
    // TRAIN the quantizer (2 Lloyd rounds), INDEX the corpus under its
    // trained cells, SEARCH nprobe=2 cells per probe — the whole chain
    // hash-gated against a sequential SQL replay of every stage.
    "sim_ivf_kmeans" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      Similarity.ivfSearchTrained(vecs, vecs.filter(col("vec_id") < 15),
          cents, 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    "sim_lsh_topk" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.lshTopK(vecs, vecs.filter(col("vec_id") < 20), 3, 4)
        .withColumnRenamed("rank", "rnk")
        .select(col("probe_id"), col("neighbor_id"), col("cos_r"), col("rnk"))
        .orderBy("probe_id", "rnk")
    }),

    "text_stats" -> ((s, d) =>
      TextAnalysis.stats(Tables.documents(s, d)).orderBy("doc_id")),

    // Gopher-style repetition filter: top-word occupancy and repeated-
    // bigram occupancy per document, with the composite keep flag.
    "text_quality_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d))
        .orderBy("doc_id")),

    // Gopher-style quality-rule bundle (MassiveText §A1.1
    // re-thresholded for this corpus): per-doc counters + one 0/1
    // verdict per rule + the rollup. Every ratio rule is an INTEGER
    // cross-multiplication — no float anywhere in the query.
    "text_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherQualityRules(Tables.documents(s, d))
        .orderBy("doc_id")),

    // SymSpell deletion-neighborhood spell candidates: vocab and
    // probes expand to their {word} ∪ del1(word) key sets, equi-join
    // on the key, exact-levenshtein verify (the symmetric-delete
    // algorithm admits distance-2 collisions), rank by corpus
    // frequency. Probes derive deterministically from the corpus (8
    // third-char-deleted typos + 2 exact words).
    "text_spell_candidates" -> ((s, d) =>
      TextAnalysis.spellCandidates(Tables.documents(s, d))
        .orderBy("probe_term", "rnk")),

    // The same serve from the PERSISTED keys/stats layout
    // (log-gated edit radius) — shares text_spell_candidates'
    // oracle: BIGINT freq and the variant strings round-trip parquet
    // exactly.
    "text_spell_serve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = FlowLogQueries.scratchDir("graft_spell_idx")
      TextAnalysis.writeSpellIndex(docs, dir)
      TextAnalysis.searchSpellIndex(s, docs, dir)
        .orderBy("probe_term", "rnk")
    }),

    // Spell-index append leg: build on the even half, append the odd
    // half. Key rows dedup at serve, freq rows SUM at serve, so the
    // union is bit-identical to the monolithic build — shares the
    // monolithic oracle.
    "text_spell_append" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = FlowLogQueries.scratchDir("graft_spell_app")
      TextAnalysis.writeSpellIndex(docs.filter(col("doc_id") % 2 === 0),
        dir)
      TextAnalysis.appendSpellIndex(s,
        docs.filter(col("doc_id") % 2 =!= 0), dir)
      TextAnalysis.searchSpellIndex(s, docs, dir)
        .orderBy("probe_term", "rnk")
    }),

    // Spell-index delete leg: tombstone the length-8+ vocabulary
    // words (physically rewritten out of both tables in one entry).
    // Probes still derive from the full corpus — the oracle is the
    // replay with the vocabulary (index side) filtered, equivalent
    // to a rebuild without the words.
    "text_spell_delete" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = FlowLogQueries.scratchDir("graft_spell_del")
      TextAnalysis.writeSpellIndex(docs, dir)
      TextAnalysis.deleteFromSpellIndex(s,
        docs.select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) >= 8).distinct(), dir)
      TextAnalysis.searchSpellIndex(s, docs, dir)
        .orderBy("probe_term", "rnk")
    }),

    // Okapi BM25 ranking against a fixed term bag — the search-side
    // analytic the reference's Elasticsearch sink serves. Per-term
    // weights round to 6 dp and sum as exact decimal (see bm25 scaladoc).
    "text_bm25" -> ((s, d) =>
      TextAnalysis.bm25(Tables.documents(s, d), Seq("hash", "join", "spark"))
        .orderBy("doc_id")),

    // Persisted inverted-index round-trip: build the term-hash-
    // partitioned postings index, then serve the SAME term bag from the
    // files — the query terms' buckets become a static partition filter
    // computed at plan time, so the scan reads only the consulted
    // buckets' directories. Scores bit-identical to the corpus-scan
    // text_bm25 (shared oracle; PipelineSpec pins parity + pruning).
    "text_bm25_serve" -> ((s, d) => {
      val dir = FlowLogQueries.scratchDir("graft_inv_idx")
      TextAnalysis.writeInvertedIndex(Tables.documents(s, d), dir)
      TextAnalysis.searchInvertedIndex(s, dir,
          Seq("hash", "join", "spark"))
        .orderBy("doc_id")
    }),

    // DELETION from the persisted inverted index: every fifth doc is
    // tombstoned (one postings scan captures its dl — a doc with no
    // query-term postings still counts in the corpus stats), postings
    // mask via one broadcast anti-join, and the stats subtract the
    // deleted docs' exact contribution — so the served scores are
    // bit-identical to an index REBUILT without those docs, idf and
    // avgdl included (spec-pinned). Oracle: the BM25 replay over the
    // corpus minus the deleted docs.
    "text_bm25_delete" -> ((s, d) => {
      val dir = FlowLogQueries.scratchDir("graft_inv_del")
      TextAnalysis.writeInvertedIndex(Tables.documents(s, d), dir)
      TextAnalysis.deleteFromInvertedIndex(s,
        Tables.documents(s, d)
          .filter(col("doc_id") % 5 === 0).select(col("doc_id")), dir)
      TextAnalysis.searchInvertedIndex(s, dir,
          Seq("hash", "join", "spark"))
        .orderBy("doc_id")
    }),

    // Sharded/incremental index serving: the corpus splits into two
    // ingestion batches, each indexed independently; the query serves
    // from BOTH shards with df and corpus stats re-aggregated at serve
    // time — bit-identical to one index over the whole corpus, so it
    // shares text_bm25's oracle. The shape that ingests a new batch
    // without re-indexing the corpus.
    // Positional phrase search: every doc containing the exact 3-word
    // phrase, via the classic per-term (doc, pos - offset) leg
    // intersection — the query class tf-only postings can't answer.
    "text_phrase_search" -> ((s, d) =>
      TextAnalysis.phraseMatch(Tables.documents(s, d),
          Seq("slow", "hash", "batch"))
        .orderBy("doc_id")),

    // Phrase query served from the SAME persisted inverted index the
    // BM25 serve reads (positions ride on every posting): per-term
    // statically-pruned bucket scans, position explode into shifted
    // legs, (doc, start) intersection — identical to the corpus-side
    // text_phrase_search (shared oracle).
    "text_phrase_serve" -> ((s, d) => {
      val dir = FlowLogQueries.scratchDir("graft_inv_ph")
      TextAnalysis.writeInvertedIndex(Tables.documents(s, d), dir)
      TextAnalysis.searchPhraseIndex(s, dir,
          Seq("slow", "hash", "batch"))
        .orderBy("doc_id")
    }),

    "text_bm25_shards" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dirA = FlowLogQueries.scratchDir("graft_inv_a")
      val dirB = FlowLogQueries.scratchDir("graft_inv_b")
      TextAnalysis.writeInvertedIndex(docs.filter(col("doc_id") % 2 === 0),
        dirA)
      TextAnalysis.writeInvertedIndex(docs.filter(col("doc_id") % 2 =!= 0),
        dirB)
      TextAnalysis.searchInvertedIndexShards(s, Seq(dirA, dirB),
          Seq("hash", "join", "spark"))
        .orderBy("doc_id")
    }),

    // Corpus-dominating bigrams: the boilerplate/contamination analysis
    // view — one gram-keyed aggregation, top-k via sort-limit heaps.
    "text_top_ngrams" -> ((s, d) =>
      TextAnalysis.topNgrams(Tables.documents(s, d), n = 2, k = 50)),

    // C4-style boilerplate filter: per-doc share of gram mass taken by
    // corpus-dominating trigrams (df > 30% of docs), with the keep flag.
    "text_boilerplate" -> ((s, d) =>
      TextAnalysis.boilerplateNgramStats(Tables.documents(s, d), n = 3,
        maxDocFrac = 0.3)
        .orderBy("doc_id")),

    // Char-trigram Shannon entropy — the gibberish/low-diversity quality
    // signal. Terms round to 6 dp and sum as exact decimal (see scaladoc).
    "text_trigram_entropy" -> ((s, d) =>
      TextAnalysis.trigramEntropyFast(Tables.documents(s, d))
        .orderBy("doc_id")),

    // Unigram-LM quality scoring (perplexity proxy): mean per-token
    // log-probability under the corpus's own smoothed unigram model.
    "text_unigram_logprob" -> ((s, d) =>
      TextAnalysis.unigramLogprob(Tables.documents(s, d))
        .orderBy("doc_id")),

    // BPE merge-rule training: the first 3 learned merges (pair counts
    // over the frequency-weighted word vocabulary, leftmost-first
    // non-overlapping rewrite per round) — the train side of the
    // tokenizer, next to text_tokenize_bpe's apply side.
    "text_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), merges = 3)
        .orderBy("round")),

    // Tokenize with the merges just learned: train→apply composition.
    // The word→tokens map is the training loop's own final vocabulary;
    // application is one co-keyed join + ordered per-doc reassembly.
    "text_bpe_apply" -> ((s, d) =>
      TextAnalysis.bpeApply(Tables.documents(s, d), merges = 3)
        .orderBy("doc_id")),

    // Tokenizer SERVE: the vocabulary trains once and persists
    // (bpeWriteVocab — the tokenizer's index write), then a corpus the
    // vocab was NOT trained on tokenizes against the stored table —
    // every doc gains one guaranteed-OOV word ("xq<doc_id>", absent
    // from the synthetic vocabulary), which must fall back to its
    // character symbols rather than vanish. This is the leg a
    // training-data pipeline runs continuously (new crawl shards
    // against a frozen tokenizer); StreamingSpec proves the same serve
    // under foreachBatch.
    "text_bpe_serve" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dir = FlowLogQueries.scratchDir("graft_bpe_vocab")
      TextAnalysis.bpeWriteVocab(docs, dir, merges = 3)
      val incoming = docs.select(col("doc_id"),
        concat(col("text"), lit(" xq"), col("doc_id").cast("string"))
          .as("text"))
      TextAnalysis.bpeApplyFromVocab(s, dir, incoming).orderBy("doc_id")
    }),

    // Multinomial Naive Bayes source classifier — the fastText-class
    // cheap linear router a curation pipeline runs corpus-wide:
    // per-source token log-likelihoods + log-priors trained on the
    // labeled corpus, every doc scored under every source, argmax
    // emitted (micro-unit fixed-point terms, BIGINT sums, label-asc
    // tie-break — the unigram-LM determinism discipline). Joined back
    // to the ground label so the row doubles as a confusion readout.
    "text_nb_classify" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source").as("label"), col("text"))
      TextAnalysis.naiveBayesClassify(docs)
        .join(docs.select(col("doc_id"), col("label").as("actual")),
          Seq("doc_id"))
        .select(col("doc_id"), col("actual"), col("pred"),
          col("score_micro"))
        .orderBy("doc_id")
    }),

    // NB model LIFECYCLE: train on the even half, APPEND the odd half
    // (stored form = raw counts, additive — write(A)+append(B) ≡
    // write(A ∪ B) by per-key re-aggregation, the BM25-shards
    // discipline), then classify the corpus with one guaranteed-OOV
    // token per doc ("xq<doc_id>", absent from the synthetic
    // vocabulary) against the STORED model — unseen tokens must take
    // the smoothing floor, not error. Oracle = the monolithic train
    // over the full corpus scoring the OOV-augmented incoming.
    "text_nb_serve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source").as("label"), col("text"))
      val dir = FlowLogQueries.scratchDir("graft_nb_model")
      TextAnalysis.nbWriteModel(docs.filter(col("doc_id") % 2 === 0),
        dir)
      TextAnalysis.nbAppendModel(s,
        docs.filter(col("doc_id") % 2 === 1), dir, batchId = 1)
      val incoming = docs.select(col("doc_id"),
        concat(col("text"), lit(" xq"), col("doc_id").cast("string"))
          .as("text"))
      TextAnalysis.nbClassifyFromModel(s, incoming, dir)
        .orderBy("doc_id")
    }),

    // NB model COMPACTION: write the even half, append the odd half
    // (counts table now holds up to two rows per key), COMPACT — the
    // whole-table replace folds to one row per key; the serve's
    // per-key re-aggregation is the identity on that form, so the
    // classify is bit-identical to the uncompacted serve and the
    // oracle is simply the monolithic train scoring the plain corpus.
    "text_nb_compact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source").as("label"), col("text"))
      val dir = FlowLogQueries.scratchDir("graft_nb_compact")
      TextAnalysis.nbWriteModel(docs.filter(col("doc_id") % 2 === 0),
        dir)
      TextAnalysis.nbAppendModel(s,
        docs.filter(col("doc_id") % 2 === 1), dir, batchId = 1)
      TextAnalysis.nbCompactModel(s, dir)
      TextAnalysis.nbClassifyFromModel(s,
        docs.select(col("doc_id"), col("text")), dir)
        .orderBy("doc_id")
    }),

    // NB batch RETRACTION: write the even half (batch 0), append the
    // odd half as TWO batches (%4==1 → batch 1, %4==3 → batch 2),
    // DELETE batch 2 — the partitioned layout drops exactly that
    // batch's additive contribution — then classify the full corpus.
    // Oracle = a retrain WITHOUT the deleted batch's documents
    // scoring the same corpus: partition drop ≡ retrain, bit-for-bit.
    "text_nb_delete" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source").as("label"), col("text"))
      val dir = FlowLogQueries.scratchDir("graft_nb_delete")
      TextAnalysis.nbWriteModel(docs.filter(col("doc_id") % 2 === 0),
        dir)
      TextAnalysis.nbAppendModel(s,
        docs.filter(col("doc_id") % 4 === 1), dir, batchId = 1)
      TextAnalysis.nbAppendModel(s,
        docs.filter(col("doc_id") % 4 === 3), dir, batchId = 2)
      TextAnalysis.nbDeleteBatch(s, dir, 2)
      TextAnalysis.nbClassifyFromModel(s,
        docs.select(col("doc_id"), col("text")), dir)
        .orderBy("doc_id")
    }),

    // Bigram-LM fluency: mean log P(w_i | w_{i-1}) under the corpus's
    // own smoothed bigram model — the conditional-transition step up
    // from the unigram score (word salad scores low even when its
    // words are common).
    "text_bigram_logprob" -> ((s, d) =>
      TextAnalysis.bigramLogprob(Tables.documents(s, d))
        .orderBy("doc_id")),

    // Perplexity-filter buckets: decile each source's documents by
    // unigram-LM quality score (the CCNet-style "keep the best-q
    // deciles per source" gate). The ntile order is TOTAL
    // (avg_logprob_micro, doc_id) so ties cannot drift between
    // engines; min/max per decile are raw doubles (no sums).
    "text_quality_deciles" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("avg_logprob_micro"), col("doc_id"))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(TextAnalysis.unigramLogprob(Tables.documents(s, d)), "doc_id")
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("avg_logprob_micro")).as("min_lp"),
          max(col("avg_logprob_micro")).as("max_lp"))
        .orderBy("source", "decile")
    }),

    // DSIR importance weights toward the src0 domain (Xie et al. 2023):
    // per-doc Σ[ln p_target − ln p_raw] under Laplace-smoothed unigram
    // LMs — the importance-resampling score that shifts a raw corpus
    // toward a target domain. Fixed-point micro-unit terms
    // (floor(x*1e6 + 0.5) BIGINT), plain integer per-doc sums
    // (order-free), raw int-ratio mean.
    "text_dsir_weights" -> ((s, d) =>
      TextAnalysis.dsirWeights(Tables.documents(s, d), "src0")
        .orderBy("doc_id")),

    // Degree distribution of the LSH duplicate graph (zero-degree docs
    // included): how many near-dup neighbors each document has — the
    // skew signal that says whether duplication is a few big template
    // families or broad pairwise overlap. Explode both endpoints of the
    // distinct pair set, count per node, histogram per degree.
    "dedup_degree_dist" -> ((s, d) => {
      val corpus = Dedup.augmentCorpus(Tables.documents(s, d))
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignaturesV2(corpus), sep = "|")
      val deg = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      corpus.select(col("doc_id"))
        .join(deg, Seq("doc_id"), "left")
        .select(coalesce(col("degree"), lit(0L)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    }),

    // Dedup cluster-size profile from the LSH duplicate graph: how many
    // clusters of each size the corpus holds (singletons included) —
    // the one-page report a dedup run emits before dropping copies.
    "dedup_cluster_stats" -> ((s, d) => {
      val corpus = Dedup.augmentCorpus(Tables.documents(s, d))
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignaturesV2(corpus), sep = "|")
      graft.operators.ConnectedComponents.canonicalize(corpus, pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }),

    // PSI drift monitor: each source's n_chars distribution vs the
    // corpus, Laplace-smoothed, 10 fixed-width bins — the refresh gate
    // ("did this crawl move?"). One (source, bin) aggregate pass.
    "pipeline_drift_psi" -> ((s, d) =>
      Profiling.driftPsi(Tables.documents(s, d)).orderBy("source")),

    // Deterministic per-epoch shuffle: 2 epochs × 8 shards, md5-keyed
    // order, shard-local row_number — the replayable read schedule.
    "pipeline_epoch_shuffle" -> ((s, d) =>
      Sampling.epochShuffle(
        Tables.documents(s, d).select(col("doc_id")),
        col("doc_id"), epochs = 2, shards = 8)
        .orderBy("epoch", "shard", "pos")),

    // Token counting with a BPE-ish pre-tokenization regex vs plain
    // whitespace, plus fertility (tokens per word) — the budget
    // estimator's conversion factor. Single codegen'd projection.
    "text_tokenize_bpe" -> ((s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d))
        .orderBy("doc_id")),

    // Per-source length-percentile filter: drop each crawl's shortest
    // tail (exact percent_rank, engine-stable rational arithmetic).
    "pipeline_length_filter" -> ((s, d) =>
      TextAnalysis.lengthPercentileFilter(Tables.documents(s, d), 0.1)
        .orderBy("doc_id")),

    // Incremental dedup: the injected duplicate shard (ids >= 100000)
    // deduplicated AGAINST the base corpus — cross-side LSH candidates
    // only, never within-shard pairs.
    "dedup_incremental" -> ((s, d) =>
      Dedup.lshIncrementalPairs(
        Dedup.minhashSignaturesV2(
          Dedup.augmentCorpus(Tables.documents(s, d))),
        col("doc_id") >= 100000, sep = "|")
        .orderBy("new_id", "base_id")),

    // Incremental dedup served from a PERSISTED LSH bucket index: the
    // base corpus's shingle→minhash→band chain runs once at build and
    // its (doc_id, bucket) table persists; the incoming shard computes
    // its own buckets live and equi-joins the stored index — base text
    // is never re-read. Strings + BIGINTs round-trip parquet exactly,
    // so the pairs share dedup_incremental's oracle bit-for-bit.
    "dedup_lsh_persist" -> ((s, d) => {
      val sigs = Dedup.minhashSignaturesV2(
        Dedup.augmentCorpus(Tables.documents(s, d)))
      val dir = FlowLogQueries.scratchDir("graft_lsh_idx")
      Dedup.writeLshIndex(sigs.filter(col("doc_id") < 100000), dir,
        sep = "|")
      Dedup.lshIncrementalFromIndex(s, dir,
        sigs.filter(col("doc_id") >= 100000), sep = "|")
        .orderBy("new_id", "base_id")
    }),

    // Incremental growth of the stored LSH base — the add half of the
    // dedup index lifecycle: half the base builds the index, the
    // other half APPENDS (per-doc bucket rows land beside the old
    // files, log-gated parameters), and the shard serves against
    // the union. Index rows are per-doc, so the served pairs are
    // bit-identical to the monolithic dedup_lsh_persist build and
    // gate against the same replay.
    "dedup_lsh_append" -> ((s, d) => {
      val sigs = Dedup.minhashSignaturesV2(
        Dedup.augmentCorpus(Tables.documents(s, d)))
      val dir = FlowLogQueries.scratchDir("graft_lsh_app")
      val base = sigs.filter(col("doc_id") < 100000)
      Dedup.writeLshIndex(base.filter(col("doc_id") % 2 === 0), dir,
        sep = "|")
      Dedup.appendLshIndex(s, base.filter(col("doc_id") % 2 =!= 0),
        dir, sep = "|")
      Dedup.lshIncrementalFromIndex(s, dir,
        sigs.filter(col("doc_id") >= 100000), sep = "|")
        .orderBy("new_id", "base_id")
    }),

    // DELETION from the stored LSH base: every fifth base doc is
    // retracted before the shard serves — its buckets drop from the
    // index (one replace entry, fields carried), so it can never
    // produce a candidate pair again. Index rows are per-doc, so
    // deletion ≡ rebuilding without those docs (spec-pinned); the
    // oracle is the incremental replay with the deleted base ids
    // excluded.
    "dedup_lsh_delete" -> ((s, d) => {
      val sigs = Dedup.minhashSignaturesV2(
        Dedup.augmentCorpus(Tables.documents(s, d)))
      val dir = FlowLogQueries.scratchDir("graft_lsh_del")
      Dedup.writeLshIndex(sigs.filter(col("doc_id") < 100000), dir,
        sep = "|")
      Dedup.deleteFromLshIndex(s,
        Tables.documents(s, d)
          .filter(col("doc_id") % 5 === 0).select(col("doc_id")), dir)
      Dedup.lshIncrementalFromIndex(s, dir,
        sigs.filter(col("doc_id") >= 100000), sep = "|")
        .orderBy("new_id", "base_id")
    }),

    // Bloom-prefiltered cross-run dedup: the incoming duplicate shard
    // (ids >= 100000) against the base corpus as history. The bloom
    // probe only routes rows (it never changes the result set), so the
    // output is exactly the anti-join the oracle expresses.
    "dedup_bloom_prefilter" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val incoming = Dedup.augmentCorpus(Tables.documents(s, d))
        .filter(col("doc_id") >= 100000)
      Dedup.bloomPrefilterNew(base, incoming).orderBy("doc_id")
    }),

    // Same dedup, hash-range-sharded filter build (the past-10⁹-docs
    // shape: per-shard filters built in reduce tasks, no driver merge,
    // no full-size filter anywhere) — identical output by construction.
    "dedup_bloom_sharded" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val incoming = Dedup.augmentCorpus(Tables.documents(s, d))
        .filter(col("doc_id") >= 100000)
      Dedup.bloomPrefilterShardedNew(base, incoming, shards = 8)
        .orderBy("doc_id")
    }),

    // Membership sketch PERSISTED: the (shard, filter_bytes) table
    // written to parquet and served against — the sketch family's
    // bloom member joining the HLL/KMV/CMS/quantile synopsis-store
    // discipline. Output contract unchanged (exact — the FP anti-join
    // runs at serve), shares dedup_bloom_sharded's oracle.
    "dedup_bloom_persist" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val incoming = Dedup.augmentCorpus(Tables.documents(s, d))
        .filter(col("doc_id") >= 100000)
      val dir = FlowLogQueries.scratchDir("graft_bloom_idx")
      Dedup.writeBloomIndex(base, dir, shards = 8)
      Dedup.bloomPrefilterFromIndex(s, incoming, base, dir)
        .orderBy("doc_id")
    }),

    // Bloom append leg: history halves built separately, the serve
    // OR-merges rows per shard — bloom insertion is deterministic
    // bit-setting, so the merged filter is bit-identical to one built
    // over the union; shares the monolithic oracle. (No delete leg by
    // construction: a bloom cannot unlearn — bits are shared — so
    // deletion means rebuild, documented like HLL's max-stability.)
    "dedup_bloom_append" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val incoming = Dedup.augmentCorpus(Tables.documents(s, d))
        .filter(col("doc_id") >= 100000)
      val dir = FlowLogQueries.scratchDir("graft_bloom_app")
      Dedup.writeBloomIndex(base.filter(col("doc_id") % 2 === 0), dir,
        shards = 8)
      Dedup.appendBloomIndex(s, base.filter(col("doc_id") % 2 =!= 0), dir)
      Dedup.bloomPrefilterFromIndex(s, incoming, base, dir)
        .orderBy("doc_id")
    }),

    // Consistent-hash shard assignment (4 shards × 16 vnodes): the ring
    // is an embedded config literal, assignment a pure projection.
    "pipeline_shard_assign" -> ((s, d) =>
      Sampling.consistentShard(
        Tables.documents(s, d).select(col("doc_id")),
        col("doc_id"), nShards = 4)
        .orderBy("doc_id")),

    // Quality-first curriculum: per-source quality deciles, schedule
    // rank by (decile, length, id) — the training-order pass.
    "pipeline_curriculum" -> ((s, d) =>
      Sampling.curriculumOrder(Tables.documents(s, d))
        .orderBy("source", "curriculum_rank")),

    // Training-mixture schedule: per-source epoch multipliers under a
    // token budget with an equal-share target and an epoch cap.
    "pipeline_mixture" -> ((s, d) =>
      Sampling.mixtureWeights(Tables.documents(s, d),
        budgetTokens = 100000.0, maxEpochs = 4.0)
        .orderBy("source")),

    // Temperature-scaled sampling weights (α = 0.3): low-resource
    // sources boosted relative to raw token share, fixed-point pow
    // terms, raw IEEE ratios.
    "pipeline_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMixture(Tables.documents(s, d), alpha = 0.3)
        .orderBy("source")),

    // Materialized mixture: the weights above turned into the actual
    // replicated/thinned corpus — floor(epochs) copies per doc plus a
    // deterministic hash-Bernoulli extra for the fractional part.
    "pipeline_mixture_sample" -> ((s, d) =>
      Sampling.materializeMixture(Tables.documents(s, d),
        budgetTokens = 52000.0, maxEpochs = 4.0)
        .orderBy("doc_id", "copy")),

    // Concatenate-and-split sequence packing: (seq_id, offset) layout
    // per source shard at a 256-token capacity — all-integer window
    // arithmetic, deterministic across engines and partitionings.
    "pipeline_seq_pack" -> ((s, d) =>
      Sampling.packSequences(Tables.documents(s, d), col("source"),
        size(split(col("text"), " ")), capacity = 256)
        .orderBy("doc_id")),

    // End-to-end cleaning pipeline composition: quality-score the
    // augmented corpus, keep the high-quality slice, exact-dedup what
    // remains — the canonical pre-training data flow, expressed as one
    // declarative plan (quality filter fuses into the scan; dedup
    // shuffles only the surviving docs).
    "pipeline_quality_dedup" -> ((s, d) => {
      val corpus = Dedup.augmentCorpus(Tables.documents(s, d))
      val quality = TextAnalysis.stats(corpus)
        .select(col("doc_id"), col("quality_score"))
      val kept = corpus.join(quality, "doc_id")
        .filter(col("quality_score") >= 0.5)
        .select(col("doc_id"), col("text"))
      Dedup.exactDuplicates(kept).orderBy("keep_id")
    }),

    "text_langid" -> ((s, d) =>
      TextAnalysis.languageId(Tables.documents(s, d)).orderBy("doc_id")),

    // The canonical pre-training flow end-to-end AS ONE PLAN: quality-
    // score the (duplicate-injected) corpus, keep the high-quality
    // slice, drop exact duplicates down to one representative, and
    // chunk the survivors for the context window. Catalyst fuses the
    // quality filter into the scan and the dedup/join stages share the
    // text-key shuffle — nothing materializes between stages.
    "pipeline_end_to_end" -> ((s, d) => {
      val corpus = Dedup.augmentCorpus(Tables.documents(s, d))
      val quality = TextAnalysis.stats(corpus)
        .filter(col("quality_score") >= 0.5).select(col("doc_id"))
      val kept = corpus.join(quality, "doc_id")
      val reps = Dedup.exactDuplicates(kept)
        .select(col("keep_id").as("doc_id"))
      TextAnalysis.chunkByTokens(kept.join(reps, "doc_id"), 64, 48)
        .orderBy("doc_id", "chunk_id")
    }),

    // Sliding-window token chunking (64-token chunks, stride 48 → 16
    // tokens of overlap) — the RAG/context-window preparation pass.
    "text_chunk_overlap" -> ((s, d) =>
      TextAnalysis.chunkByTokens(Tables.documents(s, d),
        chunkSize = 64, stride = 48)
        .orderBy("doc_id", "chunk_id")),

    // Duplicate-cluster canonicalization: MinHash-LSH pairs → connected
    // components (iterative min-label propagation) → one representative
    // per cluster across the whole corpus.
    "dedup_components" -> ((s, d) => {
      val corpus = Dedup.augmentCorpus(Tables.documents(s, d))
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignaturesV2(corpus), sep = "|")
      ConnectedComponents.canonicalize(corpus, pairs).orderBy("doc_id")
    }),

    // Deterministic hash split: reproducible train/valid/test assignment
    // from md5 buckets — stable under retries, engines, and corpus growth.
    "pipeline_hash_split" -> ((s, d) =>
      Sampling.split(Tables.documents(s, d).select(col("doc_id")),
        col("doc_id")).orderBy("doc_id")),

    // Leakage-safe split: bucket by near-duplicate COMPONENT, so an
    // entire duplicate cluster lands in one split — train/test
    // contamination impossible by construction for any LSH-connected
    // pair.
    "pipeline_leakage_safe_split" -> ((s, d) => {
      val corpus = Dedup.augmentCorpus(Tables.documents(s, d))
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignaturesV2(corpus), sep = "|")
      Sampling.leakageSafeSplit(corpus, pairs).orderBy("doc_id")
    }),

    // Order-independent corpus checksum per source: the md5-prefix of
    // each doc summed as a 60-bit integer — the migration-validation
    // primitive ("same docs on both sides?") that needs no sort and
    // parallelizes over any partitioning.
    "pipeline_checksum" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          // 48-bit prefixes summed in decimal: overflow-proof at any
          // corpus size (long sums overflow past ~2^15 docs per group).
          // Emitted as a string: Spark's DECIMAL(38,0) and DuckDB's
          // HUGEINT sum render identically as digits but not as native
          // column types (round-3 hash gate failed on exactly that).
          sum(conv(substring(md5(col("text").cast("binary")), 1, 12),
            16, 10).cast("decimal(38,0)")).cast("string").as("checksum"))
        .orderBy("source")),

    // Deterministic stratified sample for training-mix curation: keep
    // 100% of German, 40% of English, 10% of everything else — a pure
    // per-row hash test, reproducible across engines and runs.
    "pipeline_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("doc_id"), col("lang"), Map("de" -> 100, "en" -> 40), 10)
        .orderBy("doc_id")),

    // Smoothed-IDF vocabulary (top 100 terms by document frequency).
    "text_tfidf_vocab" -> ((s, d) =>
      TextAnalysis.idfVocabulary(Tables.documents(s, d))
        .orderBy(col("df").desc, col("term")).limit(100)),

    // Per-doc keyword extraction: top-3 terms by tf·idf in integer
    // micro-units (floor-quantized idf × integer tf — a total order no
    // engine pair can disagree on), ranked through the TopKPerKey
    // rewrite.
    "text_keywords" -> ((s, d) =>
      TextAnalysis.topKeywords(Tables.documents(s, d), k = 3)
        .orderBy("doc_id", "rnk")),

    // Benchmark decontamination: train docs (doc_id % 10 != 0) sharing
    // any distinct word 8-gram with the held-out benchmark slice.
    "text_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.contamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), 8)
        .orderBy("doc_id")
    }),

    // Edit-distance near-dup pairs with prefix blocking.
    "dedup_fuzzy_lev" -> ((s, d) =>
      TextAnalysis.fuzzyPairs(Dedup.augmentCorpus(Tables.documents(s, d)),
        16, 40, 30).orderBy("id_a", "id_b")),

    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d)).orderBy("doc_id")),

    "mm_binary_meta" -> ((s, d) =>
      Multimodal.binaryMeta(Tables.documents(s, d)).orderBy("doc_id")),

    // Multimodal decode, for real: payloads carry genuine PNG/JPEG
    // headers (IHDR chunk with CRC32 / SOF0 behind skippable segments)
    // and the decode stage parses the actual bytes — including verifying
    // the PNG CRC in-engine (`header_ok`, pinned TRUE by the oracle).
    // The oracle recomputes the dimensions from the same deterministic
    // derivation the synthesizer used.
    "mm_decode_header" -> ((s, d) =>
      Multimodal.decodeImageHeaders(
        Multimodal.synthesizeImagePayloads(Tables.documents(s, d)))
        .orderBy("doc_id")),

    // Audio decode, for real: payloads are structurally valid PCM16
    // WAVs (RIFF signature, a LIST chunk the reader must length-skip,
    // fmt + data) and the decode stage parses the actual container
    // bytes. The oracle recomputes rate/channels/frames from the same
    // deterministic derivation the synthesizer used.
    "mm_audio_header" -> ((s, d) =>
      Multimodal.decodeAudioHeaders(
        Multimodal.synthesizeAudioPayloads(Tables.documents(s, d)))
        .orderBy("doc_id")),

    // Frame sampling over binary payloads — frame boundaries and sizes
    // reproduce in SQL from the byte length alone.
    // Content-addressable chunking: fixed-size chunks keyed by md5 —
    // the shared-storage layout for large multimodal blobs.
    "mm_chunk" -> ((s, d) =>
      Multimodal.chunkPayloads(
        Multimodal.asBinaryPayloads(Tables.documents(s, d)), 64)
        .orderBy("doc_id", "chunk_no")),

    // Content-addressable storage dedup: duplicated 64-byte chunks
    // across the (duplicate-injected) corpus with copy counts and
    // reclaimable bytes — one chunk-hash-keyed aggregation, no payload
    // bytes in the shuffle.
    "mm_chunk_dedup" -> ((s, d) =>
      Multimodal.chunkDedup(
        Multimodal.asBinaryPayloads(
          Dedup.augmentCorpus(Tables.documents(s, d))), 64)
        .orderBy("chunk_hash")),

    // Content-DEFINED chunking: boundaries where the trailing-window
    // hash divides 32, so chunk identity survives byte shifts — the
    // CAS scheme for mutable blobs that fixed-offset mm_chunk cannot
    // provide (its scaladoc caveat). Pure per-row HOFs, no shuffle;
    // MultimodalSpec pins the shift-realignment property.
    "mm_cdc_chunks" -> ((s, d) =>
      Multimodal.cdcChunks(Tables.documents(s, d), window = 8,
        divisor = 32)
        .orderBy("doc_id", "chunk_no")),

    // Content-addressed chunk STORE round-trip: the base corpus builds
    // the manifest + dedup'd store, the duplicate-injected extras
    // append incrementally (only never-seen hashes ship payload), and
    // every document REASSEMBLES from the store byte-exactly — gated
    // by one md5 per document against the original text, so any byte
    // lost or reordered anywhere in chunk/store/append/reassemble
    // shows as a hash mismatch. The dedup-at-rest layout CDC chunking
    // exists to feed.
    "mm_chunk_store" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val extras = Dedup.augmentCorpus(Tables.documents(s, d))
        .filter(col("doc_id") >= 100000)
      val dir = FlowLogQueries.scratchDir("graft_chunk_store")
      Multimodal.writeChunkStore(base, dir, window = 8, divisor = 32)
      Multimodal.appendChunkStore(s, extras, dir, window = 8,
        divisor = 32)
      Multimodal.reconstructFromStore(s, dir)
        .orderBy("doc_id")
    }),

    // Chunk-store GC — the retention half of the store lifecycle next
    // to mm_chunk_store's build/append half: every third base document
    // is deleted, the manifest drops their rows, and the sweep removes
    // exactly the chunks no surviving document references (a deleted
    // doc whose +100000 duplicate remains keeps ALL its chunks — the
    // reference-counting case that per-doc deletion would get wrong).
    // Gated by byte-exact reassembly of the SURVIVING corpus; the
    // sweep's remove-all-and-only-orphans exactness is spec-pinned.
    "mm_chunk_gc" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val extras = Dedup.augmentCorpus(Tables.documents(s, d))
        .filter(col("doc_id") >= 100000)
      val dir = FlowLogQueries.scratchDir("graft_chunk_gc")
      Multimodal.writeChunkStore(base, dir, window = 8, divisor = 32)
      Multimodal.appendChunkStore(s, extras, dir, window = 8,
        divisor = 32)
      Multimodal.deleteDocsFromChunkStore(s,
        base.filter(col("doc_id") % 3 === 0).select(col("doc_id")), dir)
      Multimodal.reconstructFromStore(s, dir)
        .orderBy("doc_id")
    }),

    "mm_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.asBinaryPayloads(Tables.documents(s, d)), 64, 2)
        .select(col("doc_id"), col("frame_no"),
          length(col("frame")).as("frame_bytes"))
        .orderBy("doc_id", "frame_no")),

    // Shot segmentation over the sampled frames: signature-jump cut
    // detection + running scene ids, per-doc lag/sum windows.
    "mm_scene_cut" -> ((s, d) =>
      Multimodal.sceneCuts(
        Multimodal.sampleFrames(
          Multimodal.asBinaryPayloads(Tables.documents(s, d)), 64, 2),
        threshold = 1500)
        .orderBy("doc_id", "frame_no")),

    // PII redaction with deterministic injected PII (emails for 2/3 of
    // docs, phone numbers for 1/5) so match counts vary and the gate is
    // non-vacuous on the synthetic corpus.
    "text_pii_redact" -> ((s, d) =>
      TextAnalysis.redactPii(
        Tables.documents(s, d).withColumn("text",
          concat(col("text"),
            when(col("doc_id") % 3 =!= 0,
              concat(lit(" reach user"), col("doc_id").cast("string"),
                lit("@mail"), (col("doc_id") % 7).cast("string"),
                lit(".com"))).otherwise(lit(" anon")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit("")))))
        .orderBy("doc_id")),

    // Training-mix interleave: capped per-source quotas, global stream
    // position computed arithmetically from broadcast counts (no global
    // row_number at any scale).
    // cap = 20 BINDS on the 25-doc sources of the test corpus (each
    // source drops its hash-order tail) so the quota path is exercised
    // by the gate, not just the interleave arithmetic.
    "pipeline_source_mix" -> ((s, d) =>
      Sampling.interleaveSources(Tables.documents(s, d), cap = 20)
        .orderBy("mix_pos")),

    // Key-skew profile of the lineitem↔supplier join key — the
    // diagnostic that decides salting vs plain hash partitioning.
    "pipeline_key_skew" -> ((s, d) =>
      Profiling.keySkew(Tables.lineitem(s, d), col("l_suppkey"), topN = 20)),

    // Per-source dataset card: one aggregation pass, all the corpus
    // summary stats a training drop is gated on.
    "pipeline_dataset_card" -> ((s, d) =>
      Profiling.datasetCard(Tables.documents(s, d))),

    // REAL image resize: integer box-filter downsample (factor 2) over
    // synthesized GR rasters — the codegen'd RasterResize kernel. The
    // gate checks EVERY output pixel: the query explodes the resized
    // raster to (pos, px) rows plus the header dims, and the oracle
    // replays the 4-term floor-average per pixel straight from the
    // documents table (all-integer arithmetic, no tolerance).
    "mm_resize" -> ((s, d) =>
      Multimodal.resizeRasters(
        Multimodal.synthesizeRasterPayloads(Tables.documents(s, d)), 2)
        .select(col("doc_id"), col("payload"),
          expr("cast(conv(hex(substring(payload, 4, 2)), 16, 10) as int)")
            .as("out_w"),
          expr("cast(conv(hex(substring(payload, 6, 2)), 16, 10) as int)")
            .as("out_h"))
        .select(col("doc_id"), col("out_w"), col("out_h"), col("payload"),
          explode(expr("sequence(0L, length(payload) - 8L)")).as("pos"))
        .select(col("doc_id"), col("pos"),
          expr("cast(conv(hex(substring(payload, cast(pos + 8 as int), 1))," +
            " 16, 10) as bigint)").as("px"),
          col("out_w"), col("out_h"))
        .orderBy("doc_id", "pos")),

    // REAL wire-format image decode: synthesized GR rasters encode to
    // genuine PNG bytes (zlib-deflated scanlines, every filter class —
    // the per-row filter cycles y mod 5 — CRC-trailed chunks) and
    // PngDecode inverts them: chunk walk + CRC verify + inflate +
    // per-scanline unfilter (None/Sub/Up/Average/Paeth), one fused
    // codegen pass per row. The gate explodes EVERY decoded pixel and
    // the oracle replays the synthesis closed-form straight from the
    // documents table — decode∘encode must be the identity per byte,
    // so any error anywhere in the codec (filter math, inflate
    // framing, geometry) surfaces as a pixel mismatch. The decoder is
    // independently pinned against a second (Python-generated) PNG
    // implementation in PipelineSpec.
    "mm_png_decode" -> ((s, d) =>
      Multimodal.synthesizeRasterPayloads(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.functions.functions.png_decode(
            graft.functions.functions.png_encode(col("payload")))
            .as("payload"))
        .select(col("doc_id"), col("payload"),
          expr("cast(conv(hex(substring(payload, 4, 2)), 16, 10) as int)")
            .as("out_w"),
          expr("cast(conv(hex(substring(payload, 6, 2)), 16, 10) as int)")
            .as("out_h"))
        .select(col("doc_id"), col("out_w"), col("out_h"), col("payload"),
          explode(expr("sequence(0L, length(payload) - 8L)")).as("pos"))
        .select(col("doc_id"), col("pos"),
          expr("cast(conv(hex(substring(payload, cast(pos + 8 as int), 1))," +
            " 16, 10) as bigint)").as("px"),
          col("out_w"), col("out_h"))
        .orderBy("doc_id", "pos")),

    // REAL baseline JPEG (ITU-T T.81): markers, Annex K Huffman
    // tables, DC prediction, byte stuffing, quant, IDCT — the r16
    // verdict's #5. DCT JPEG is lossy, so the gate feeds the one
    // input class where the round trip is EXACTLY invertible:
    // block-constant rasters (only the DC coefficient survives, and
    // 8·levelShift divides the all-8s DC quant), multi-block with
    // partial edges so the prediction chain and padding both run.
    // Any error anywhere — a wrong Huffman code, a broken stuffing
    // byte, an off-by-one in the zigzag or the padding crop —
    // surfaces as a pixel mismatch against the closed-form oracle.
    // The lossy AC path (run-length, ZRL, EOB, EXTEND) is spec-pinned
    // with an error bound in ExpressionsSpec, where no exact
    // cross-engine oracle can exist.
    "mm_jpeg_roundtrip" -> ((s, d) =>
      Multimodal.synthesizeBlockRasters(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.functions.functions.jpeg_decode(
            graft.functions.functions.jpeg_encode(col("payload")))
            .as("payload"))
        .select(col("doc_id"), col("payload"),
          expr("cast(conv(hex(substring(payload, 4, 2)), 16, 10) as int)")
            .as("out_w"),
          expr("cast(conv(hex(substring(payload, 6, 2)), 16, 10) as int)")
            .as("out_h"))
        .select(col("doc_id"), col("out_w"), col("out_h"),
          col("payload"),
          explode(expr("sequence(0L, length(payload) - 8L)")).as("pos"))
        .select(col("doc_id"), col("pos"),
          expr("cast(conv(hex(substring(payload, cast(pos + 8 as int), 1))," +
            " 16, 10) as bigint)").as("px"),
          col("out_w"), col("out_h"))
        .orderBy("doc_id", "pos")),

    // The 3-component JPEG gate: RGB-as-planes ('R','G','B' component
    // ids, no color transform, 1×1 sampling) through INTERLEAVED MCUs
    // with a separate DC prediction chain per component — a genuinely
    // different scan path than the grayscale row. Same exactness
    // class: block-constant per channel ⇒ DC-only ⇒ identity; oracle
    // closed-form from the synthesis (channel offset ch·17).
    "mm_jpeg_color_roundtrip" -> ((s, d) =>
      Multimodal.synthesizeBlockRasters(Tables.documents(s, d),
          channels = 3)
        .select(col("doc_id"),
          graft.functions.functions.jpeg_decode(
            graft.functions.functions.jpeg_encode(col("payload")))
            .as("payload"))
        .select(col("doc_id"), col("payload"),
          expr("cast(conv(hex(substring(payload, 4, 2)), 16, 10) as int)")
            .as("out_w"),
          expr("cast(conv(hex(substring(payload, 6, 2)), 16, 10) as int)")
            .as("out_h"))
        .select(col("doc_id"), col("out_w"), col("out_h"),
          col("payload"),
          explode(expr("sequence(0L, length(payload) - 8L)")).as("pos"))
        .select(col("doc_id"), col("pos"),
          expr("cast(conv(hex(substring(payload, cast(pos + 8 as int), 1))," +
            " 16, 10) as bigint)").as("px"),
          col("out_w"), col("out_h"))
        .orderBy("doc_id", "pos")),

    // REAL feature extraction: per-channel normalized pixel histograms
    // over the same GR rasters (RasterHistogram kernel) — 3 channels ×
    // 8 bins per doc, each feature the exact IEEE division of two
    // integers the oracle reproduces bit-for-bit.
    "mm_feature_hist" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.synthesizeRasterPayloads(Tables.documents(s, d)),
        bins = 8)
        .select(col("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), expr("pos div 8").as("c"),
          expr("pos % 8").as("b"), col("col").as("f"))
        .orderBy("doc_id", "c", "b")),

    // Channel-mean grayscale (RasterGray kernel): every output pixel
    // checked against the oracle's floor((c0+c1+c2)/3) replay.
    "mm_gray" -> ((s, d) =>
      rasterPixelRows(Multimodal.grayRasters(
        Multimodal.synthesizeRasterPayloads(Tables.documents(s, d))))
        .orderBy("doc_id", "pos")),

    // Horizontal mirror (RasterFlipH kernel): a pure index remap the
    // oracle replays as (y·W + (W−1−x))·3 + c — every byte checked.
    "mm_flip" -> ((s, d) =>
      rasterPixelRows(Multimodal.flipRasters(
        Multimodal.synthesizeRasterPayloads(Tables.documents(s, d))))
        .orderBy("doc_id", "pos")),

    // Nearest-neighbor upsample (RasterUpsample kernel): every output
    // pixel checked against the oracle's (y/2, x/2) source remap —
    // the inverse direction of mm_resize's box filter.
    "mm_upsample" -> ((s, d) =>
      rasterPixelRows(Multimodal.upsampleRasters(
        Multimodal.synthesizeRasterPayloads(Tables.documents(s, d)), 2))
        .orderBy("doc_id", "pos")),

    // Region-of-interest crop (RasterCrop kernel): the 2×2 window at
    // (1,1) fits every synthesized raster (min 4×3), so no row nulls
    // out and the oracle replays all 12 bytes per doc.
    "mm_crop" -> ((s, d) =>
      rasterPixelRows(Multimodal.cropRasters(
        Multimodal.synthesizeRasterPayloads(Tables.documents(s, d)),
        1, 1, 2, 2))
        .orderBy("doc_id", "pos")),

    // Dataset-card channel statistics (RasterChannelStats kernel):
    // exact integer sum/min/max per channel + the derived mean (one
    // IEEE division of two exact integers).
    "mm_channel_stats" -> ((s, d) =>
      Multimodal.channelStats(
        Multimodal.synthesizeRasterPayloads(Tables.documents(s, d)))
        .orderBy("doc_id", "c")),

    // The fused image pipeline: synthesize → resize(2) → gray →
    // histogram chained inside ONE whole-stage-codegen pass; the
    // oracle replays the full nested integer arithmetic (12 ord terms
    // + 4 floors per gray pixel) per bucket count.
    "mm_pipeline" -> ((s, d) =>
      Multimodal.imagePipeline(Tables.documents(s, d))
        .orderBy("doc_id", "b")),

    // The wire-format composition: PNG round-trip fused INSIDE the
    // same codegen span as resize->gray->histogram (five kernel
    // stages, one pass per row, exchange-free before the output
    // sort). decode is the exact inverse of encode, so the result --
    // and the oracle -- are mm_pipeline's, making any codec deviation
    // inside a fused chain a gate failure.
    "mm_png_pipeline" -> ((s, d) =>
      Multimodal.pngPipeline(Tables.documents(s, d))
        .orderBy("doc_id", "b")),

    // JPEG wire-format composed into the raster-kernel chain (the
    // mm_png_pipeline shape at the second codec): block-constant
    // synthesis → real JPEG encode → decode → box-resize(2) →
    // 8-bin histogram, one whole-stage-codegen pass per row. On the
    // block-constant fixture decode∘encode is the identity and a 2×2
    // box window never straddles an 8-aligned block boundary (both
    // window columns/rows share a block: 2x+1 ≡ 0 mod 8 has no even
    // solution), so every resized pixel equals its block constant and
    // the oracle is closed-form from the synthesis.
    "mm_jpeg_pipeline" -> ((s, d) => {
      val f = graft.functions.functions
      Multimodal.synthesizeBlockRasters(Tables.documents(s, d))
        .select(col("doc_id"),
          f.raster_histogram(
            f.raster_resize(
              f.jpeg_decode(f.jpeg_encode(col("payload"))), 2), 8)
            .as("hist"))
        .select(col("doc_id"), posexplode(col("hist")))
        .select(col("doc_id"), col("pos").cast("int").as("b"),
          col("col").as("cnt"))
        .orderBy("doc_id", "b")
    }),

    // Cross-family composition: the raster kernels FEED the similarity
    // operators — extractFeatures' 24-dim per-channel histograms are
    // the vector column of a brute-force cosine top-k (the
    // perceptual-near-dup shape: image → feature vector → ANN). The
    // oracle replays the whole chain: exact pixel counts → IEEE
    // feature divisions → list-order dot products → 6-dp ranks.
    "mm_feature_knn" -> ((s, d) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.synthesizeRasterPayloads(Tables.documents(s, d)),
        bins = 8)
      val vecs = feats.select(col("doc_id").as("vec_id"),
        col("features").as("v"))
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 10), 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy("probe_id", "rnk")
    }),

    // REAL video scene cuts: frames split out of the synthesized
    // video payload, reduced to exact gray-luminance sums by the
    // raster kernels, thresholded on |Δsig| — the shot-segmentation
    // stage over actual pixel math (mm_scene_cut's contract upgraded
    // from the byte-signature stand-in). Threshold 14 ≈ the corpus
    // median |Δ|, so both cut and non-cut paths fire (~47% cuts).
    "mm_video_cuts" -> ((s, d) =>
      Multimodal.videoSceneCuts(
        Multimodal.synthesizeVideoPayloads(Tables.documents(s, d)),
        nFrames = 6, threshold = 14L)
        .orderBy("doc_id", "frame_no")),

    // Audio feature extraction (WavWindowStats kernel): per-window
    // PCM16 energy (Σ sample²) and peak over REAL WAV containers —
    // the RIFF walk, channel layout (mono/stereo by doc), and signed
    // little-endian sample decode all replayed exactly by the oracle
    // from the document bytes.
    "mm_audio_energy" -> ((s, d) =>
      Multimodal.audioWindowStats(
        Multimodal.synthesizeAudioPayloads(Tables.documents(s, d)),
        winFrames = 16)
        .orderBy("doc_id", "win")),

    // Custom-Expression queries:
    // winnowing rolling-hash fingerprint over each document — oracle-gated
    // via a DuckDB recursive CTE that replays the same byte-level rolling
    // hash with HUGEINT arithmetic reduced mod 2^64 (DuckDB BIGINT ops are
    // overflow-checked, so the Long wraparound is emulated explicitly) …
    "text_rolling_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.functions.rolling_fingerprint(col("text"), 16)
            .as("fp"))
        .orderBy("doc_id")),

    // … and the gzip codec round-trip (OP-2): rows survive only if
    // gunzip(gzip(text)) == text, so the oracle is simply every doc_id —
    // any codec corruption drops a row and fails the hash compare.
    "flow_gzip_roundtrip" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.functions.gunzip(
            graft.functions.functions.gzip(col("text"))).cast("string")
            .as("rt"), col("text"))
        .filter(col("rt") === col("text"))
        .select(col("doc_id"))
        .orderBy("doc_id")),

    // Hybrid retrieval: lexical term-overlap ranks ⊕ embedding cosine
    // ranks fused with Reciprocal Rank Fusion (1/(60+rank)) — the
    // serving-side composition for retrieval-augmented curation. Both
    // legs broadcast only the probe side; see [[Retrieval.hybridRrf]].
    "sim_hybrid_rrf" -> ((s, d) =>
      Retrieval.hybridRrf(
        Tables.documents(s, d),
        Similarity.vectors(Tables.embeddings(s, d))
          .select(col("vec_id"), col("v")),
        col("doc_id") < 10, col("vec_id") < 10)
        .orderBy("probe_id", "rnk")),

    // Embedding-distribution drift between two corpus halves: the
    // vector-space analog of pipeline_drift_psi — per-dimension means
    // via the exact-decimal aggregation, 2·d output rows at any scale.
    "sim_embed_drift" -> ((s, d) =>
      Similarity.embedDrift(
        Similarity.vectors(Tables.embeddings(s, d))
          .select(col("vec_id"), col("v")),
        col("vec_id") % 2)
        .orderBy("dim")),

    // Johnson–Lindenstrauss ±1 random projection to 4 dims with a
    // hash-derived (engine-reproducible) sign matrix — the cheap
    // dimensionality-reduction stage before clustering or LSH.
    "sim_random_projection" -> ((s, d) =>
      Similarity.randomProjection(
        Similarity.vectors(Tables.embeddings(s, d))
          .select(col("vec_id"), col("v")), 4)
        .orderBy("vec_id", "out_dim")),

    // Weighted sampling without replacement, 5 docs per source with
    // probability ∝ n_chars — Efraimidis–Spirakis exponential-jump keys
    // from md5-derived uniforms, reproducible across engines and runs.
    "pipeline_reservoir_weighted" -> ((s, d) =>
      Sampling.weightedReservoir(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars")),
        col("source"), col("doc_id"), col("n_chars"), 5)
        .orderBy("source", "rnk")),

    // Quality-aware canonical selection over the LSH dup clusters: keep
    // each cluster's LONGEST member (ties to the smaller id) instead of
    // dedup_components' min-id policy — the policy real pipelines ship.
    "pipeline_canonical_quality" -> ((s, d) => {
      val corpus = Dedup.augmentCorpus(Tables.documents(s, d))
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignaturesV2(corpus), sep = "|")
      ConnectedComponents.canonicalizeByQuality(corpus, pairs,
        length(col("text")))
        .orderBy("doc_id")
    }),

    // PMI word-association mining over the top-30 vocabulary — the
    // collocation / templated-boilerplate detector; pair expansion is
    // bounded by vocabSize² per doc, independent of corpus scale.
    "text_cooccurrence_pmi" -> ((s, d) =>
      TextAnalysis.cooccurrencePmi(Tables.documents(s, d),
        vocabSize = 30, minPairDocs = 5)
        .orderBy("term_a", "term_b")),

    // Diversity-capped hybrid retrieval: at most 2 results per source
    // per probe, then the global top-5 — the anti-domination guard on
    // the fused candidate list; candidates broadcast, corpus streams.
    "sim_rrf_diverse" -> ((s, d) =>
      Retrieval.diversifiedRrf(
        Tables.documents(s, d),
        Similarity.vectors(Tables.embeddings(s, d))
          .select(col("vec_id"), col("v")),
        col("doc_id") < 10, col("vec_id") < 10)
        .orderBy("probe_id", "rnk")),

    // Maximal Marginal Relevance re-rank: greedy λ-blend of relevance
    // against max-similarity-to-selected over a brute-force top-8 pool
    // (3 unrolled selection rounds, λ=0.7) — the diversity guard that
    // sees INTER-CANDIDATE redundancy, which rank-only fusion
    // (sim_rrf_diverse's source cap) cannot.
    "sim_mmr_rerank" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.mmrRerank(vecs, vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // Top principal component by distributed power iteration (2 unrolled
    // rounds, covariance never materialized) — the corpus-bias direction
    // the embedding post-process removes.
    "sim_pca_power" -> ((s, d) =>
      Similarity.pcaPower(
        Similarity.vectors(Tables.embeddings(s, d))
          .select(col("vec_id"), col("v")))
        .orderBy("dim")),

    // Per-vector top-PC removal: projection coefficient + residual norm
    // against the trained direction — pure per-row math after one
    // broadcast of the d-vector.
    "sim_pca_residual" -> ((s, d) =>
      Similarity.removeTopPc(
        Similarity.vectors(Tables.embeddings(s, d))
          .select(col("vec_id"), col("v")))
        .orderBy("vec_id")),

    // Persisted IVF index round-trip: train → write the cell-partitioned
    // index + centroid tables → serve probes against the files. Dynamic
    // partition pruning reads only the consulted cells; results are
    // bit-identical to the in-memory sim_ivf_kmeans search (same oracle).
    "sim_ivf_persist" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivf_idx")
      Similarity.writeIvfIndex(vecs, cents, dir)
      Similarity.searchIvfIndex(s, dir, vecs.filter(col("vec_id") < 15),
        3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Hybrid RRF served ENTIRELY from persisted layouts — postings
    // from the inverted index (tombstone-masked), vector candidates
    // from the IVF index (cell-restricted): the standing-deployment
    // composition, no corpus table read at serve. Own oracle: the
    // fused vector ranks are the IVF serve's, not brute-force's.
    "sim_hybrid_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val invDir = FlowLogQueries.scratchDir("graft_hyb_inv")
      val ivfDir = FlowLogQueries.scratchDir("graft_hyb_ivf")
      TextAnalysis.writeInvertedIndex(docs, invDir)
      Similarity.writeIvfIndex(vecs, Similarity.kmeansTrain(vecs, 8, 2),
        ivfDir)
      Retrieval.hybridRrfFromIndexes(s, docs.filter(col("doc_id") < 10),
        vecs.filter(col("vec_id") < 10), invDir, ivfDir)
        .orderBy("probe_id", "rnk")
    }),

    // Hybrid RRF with the COMPRESSED vector leg — the 100 TB-preferred
    // composition: postings from the inverted index, vector candidates
    // from the cell-blocked IVF-BQ layout (16-byte codes, DPP-pruned
    // to the probed cells; floats read for the Hamming-shortlist
    // survivors only). Own oracle: the fused vector ranks are the
    // IVF-BQ serve's (probed cells → Hamming top-20 → exact-cosine
    // re-rank), not flat IVF's.
    "sim_hybrid_indexed_bq" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val invDir = FlowLogQueries.scratchDir("graft_hyb_inv_bq")
      val bqDir = FlowLogQueries.scratchDir("graft_hyb_ivfbq")
      TextAnalysis.writeInvertedIndex(docs, invDir)
      Similarity.writeIvfBqIndex(vecs, Similarity.kmeansTrain(vecs, 8, 2),
        bqDir)
      Retrieval.hybridRrfFromIndexesBq(s, docs.filter(col("doc_id") < 10),
        vecs.filter(col("vec_id") < 10), invDir, bqDir, vecs)
        .orderBy("probe_id", "rnk")
    }),

    // Binary-quantization two-stage serve — the 1-bit rung UNDER the
    // SQ8/PQ compression ladder (256× smaller than float64): Hamming
    // shortlist (top-20, XOR+popcount on two packed sign halves) over
    // codes only, exact-cosine re-rank of the shortlist to top-3. The
    // corpus stage streams 16 B/vector; floats are read for the
    // shortlist survivors alone.
    "sim_bq_rerank" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.bqRerank(vecs, vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // BQ layout PERSISTED: the 16-byte/vector code table written +
    // log-gated; the serve is bit-identical to the in-memory path
    // (BIGINT codes round-trip parquet exactly) — shares its oracle.
    "sim_bq_persist" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_bq_idx")
      Similarity.writeBqIndex(vecs, dir)
      Similarity.bqRerankFromIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // Metadata-FILTERED flat-BQ serve: label rides beside the 16-byte
    // codes, the predicate filters candidates BEFORE the Hamming
    // shortlist — the filtered-serve contract at the flat-code shape.
    "sim_bq_filtered" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val dir = FlowLogQueries.scratchDir("graft_bq_filt")
      Similarity.writeBqIndex(vecs, dir)
      Similarity.bqRerankFromIndexWhere(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), col("label") % 2 === 0)
        .orderBy("probe_id", "rnk")
    }),

    // Range mode of the flat-BQ serve: Hamming gates the shortlist,
    // the exact refine applies the radius. With this pair the top-k /
    // filtered / range triple holds for the flat BQ layout too —
    // EVERY persisted ANN layout now serves all three modes.
    "sim_bq_range" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_bq_rng")
      Similarity.writeBqIndex(vecs, dir)
      Similarity.bqRangeFromIndex(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), tau = 0.2)
        .orderBy("probe_id", "neighbor_id")
    }),

    // BQ append leg: per-vector code rows, so build-half + append-half
    // IS the monolithic table — shares the oracle.
    "sim_bq_append" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_bq_app")
      Similarity.writeBqIndex(vecs.filter(col("vec_id") % 2 === 0), dir)
      Similarity.appendBqIndex(s, vecs.filter(col("vec_id") % 2 =!= 0),
        dir)
      Similarity.bqRerankFromIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // BQ delete leg — the lifecycle matrix's last open cell closed:
    // tombstone every 7th vector (the layout-agnostic id table,
    // sim_ivf_delete's contract on the 16-byte code rows) and serve;
    // the broadcast anti-join masks deleted codes BEFORE the Hamming
    // shortlist ranks, so the shortlist fills with survivors. Oracle:
    // the BQ replay with the deleted ids excluded from the Hamming
    // CTE's corpus side (probes untouched). PipelineSpec additionally
    // pins delete ≡ rebuild-over-survivors, compaction serve parity +
    // tombstone drain, and the full-drain → append → serve flow.
    "sim_bq_delete" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_bq_del")
      Similarity.writeBqIndex(vecs, dir)
      Similarity.deleteFromBqIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.bqRerankFromIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // COMPACTION of the BQ layout, oracle-gated: rewrite the code
    // table without the tombstoned rows (whole-table replace), drain
    // the tombstones, serve. The compacted serve is bit-identical to
    // the masked serve by the layout contract, so the row gates
    // against sim_bq_delete's exact replay — physical reclamation must
    // never change a result.
    "sim_bq_compact" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val dir = FlowLogQueries.scratchDir("graft_bq_cmp")
      Similarity.writeBqIndex(vecs, dir)
      Similarity.deleteFromBqIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.compactBqIndex(s, dir)
      Similarity.bqRerankFromIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // The RECALL LADDER — the artifact a deployment reads to choose a
    // compression rung: every rung's top-3 (flat IVF cosine, SQ8
    // asymmetric MIPS, PQ ADC, BQ Hamming+re-rank, cell-blocked
    // IVF-BQ; one shared trained quantizer, probes vec_id < 10,
    // nprobe 2) intersected with the exact brute-force cosine top-3 —
    // integer overlap counts per (layout, probe), no sampling, no
    // tolerance (every serve is deterministic, so recall itself is
    // oracle-able). Turns the per-spec recall pins into one
    // driver-gated row.
    "sim_recall_ladder" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val probes = vecs.filter(col("vec_id") < 10)
      // Four rungs consume one trained quantizer as LIVE lineage —
      // measured faster than a localCheckpoint here (2.3–2.7 vs
      // 2.9–3.1 s at sf0.1): the rungs' trained-cells subtrees are
      // identical, so runtime ReuseExchange already dedups them and
      // the eager cut only adds a materialization. Contrast
      // sim_ivfpqr_topk, whose residual chains consume the quantizer
      // through NON-identical subtrees — there the checkpoint won.
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val bf = Similarity.bruteForceTopK(vecs, probes, 3)
      def rung(layout: String,
          approx: org.apache.spark.sql.DataFrame) =
        Similarity.recallAtK(bf, approx)
          .select(lit(layout).as("layout"), col("probe_id"),
            col("hits"), col("n_exact"))
      rung("bq", Similarity.bqRerank(vecs, probes, shortlist = 20, k = 3))
        .unionByName(rung("ivf",
          Similarity.ivfSearchTrained(vecs, probes, cents, 3, nprobe = 2)))
        .unionByName(rung("ivfbq",
          Similarity.ivfBqTopK(vecs, probes, cents, 20, 3, nprobe = 2)))
        .unionByName(rung("pq", Similarity.ivfPqrTopK(vecs, probes, 3,
          trained = Some(cents))))
        .unionByName(rung("sq8",
          Similarity.ivfSq8TopK(vecs, probes, cents, 3, nprobe = 2)))
        .orderBy("layout", "probe_id")
    }),

    // The RECALL-vs-BYTES CURVE — sim_recall_ladder extended across
    // the operating points a deployment actually tunes: every
    // nprobe-SENSITIVE rung (flat IVF, SQ8, by-residual PQ+refine,
    // cell-blocked IVF-BQ; flat BQ has no nprobe) × nprobe ∈
    // {1,2,4,8}, one shared trained quantizer, exact-integer overlap
    // oracle — PLUS the exact bytes each serve reads, so the artifact
    // is literally (recall, bytes) per operating point. Bytes derive
    // from the probed-cell occupancy (the DPP contract: candidates =
    // Σ probed-cell sizes − self) × each layout's per-row code width
    // at the 64-dim corpus — 512 B floats (ivf), 72 B int8+scale
    // (sq8), 16 B binary + 20×512 shortlist fetch (ivfbq), 4 B codes
    // + 40×512 shortlist fetch (pq) — all exact integers the oracle
    // recomputes. nprobe = 8 probes every cell and anchors each rung
    // at its quantization ceiling (cells partition the corpus).
    "sim_recall_curve" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val probes = vecs.filter(col("vec_id") < 10)
      // The 16 rung enumerations each broadcast the trained-quantizer
      // lineage several times (assignments, centroid arrays, residual
      // encodes); localCheckpoint materializes the kCells×dim means
      // ONCE so the Lloyd trajectory runs once per curve, not per
      // consuming branch (the MMR discipline — values identical, the
      // curve is excluded from plan-string pins).
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
        .localCheckpoint()
      // The pq rung's corpus-side state (residual codebook + codes) is
      // nprobe-INDEPENDENT — encode once, serve all four operating
      // points (ivfPqrEncode's contract; re-encoding per point would
      // redo the corpus work the persisted layout amortizes).
      val (rcb1, codes) = Similarity.ivfPqrEncode(vecs, cents)
      val bf = Similarity.bruteForceTopK(vecs, probes, 3)
      def rung(layout: String, np: Int,
          approx: org.apache.spark.sql.DataFrame) =
        Similarity.recallAtK(bf, approx)
          .select(lit(layout).as("layout"), lit(np).as("np"),
            col("probe_id"), col("hits"), col("n_exact"))
      val recalls = Seq(1, 2, 4, 8).map { np =>
        rung("ivf", np,
          Similarity.ivfSearchTrained(vecs, probes, cents, 3, nprobe = np))
          .unionByName(rung("ivfbq", np,
            Similarity.ivfBqTopK(vecs, probes, cents, 20, 3, nprobe = np)))
          .unionByName(rung("pq", np,
            Similarity.ivfPqrTopKEncoded(codes, rcb1, cents, vecs,
              probes, 3, nprobe = np)))
          .unionByName(rung("sq8", np,
            Similarity.ivfSq8TopK(vecs, probes, cents, 3, nprobe = np)))
      }.reduce(_ unionByName _)
      val pcs = Similarity.probedCellSizes(vecs, probes, cents, 8)
      val cand = Seq(1, 2, 4, 8).map { np =>
        pcs.filter(col("rn") <= np).groupBy(col("probe_id"))
          .agg((sum(col("cell_n")) - 1L).as("cand"))
          .select(lit(np).as("np"), col("probe_id"), col("cand"))
      }.reduce(_ unionByName _)
      val bytes = cand.select(col("np"), col("probe_id"),
        expr("stack(4, " +
          "'ivf',   cand * 512, " +
          "'ivfbq', cand * 16 + least(20, cand) * 512, " +
          "'pq',    cand * 4 + least(40, cand) * 512, " +
          "'sq8',   cand * 72)").as(Seq("layout", "bytes_scanned")))
      recalls.join(bytes, Seq("layout", "np", "probe_id"))
        .orderBy("layout", "np", "probe_id")
    }),

    // CELL-BLOCKED BQ persisted — the IVF composition of the BQ rung
    // (FAISS IVF + binary refine): the code table partitions by the
    // trained cell and the Hamming scan prunes to the probed cells'
    // partitions via DPP, reading corpus·nprobe/kCells codes instead
    // of the corpus (the flat BQ serve's full 16-byte-per-vector
    // stream is itself a corpus scan at 100 TB). Recall is
    // nprobe-bounded like every IVF serve; probing all cells equals
    // the flat serve bit-for-bit (spec-pinned).
    "sim_ivfbq_persist" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivfbq_idx")
      Similarity.writeIvfBqIndex(vecs, cents, dir)
      Similarity.searchIvfBqIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // IVF-BQ append leg: per-vector codes + stored-centroid
    // assignment, so build-half + append-half IS the monolithic
    // table — shares the oracle (quantizer trained on the full
    // corpus, FAISS add contract).
    "sim_ivfbq_append" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivfbq_app")
      Similarity.writeIvfBqIndex(vecs.filter(col("vec_id") % 2 === 0),
        cents, dir)
      Similarity.appendIvfBqIndex(s,
        vecs.filter(col("vec_id") % 2 =!= 0), dir)
      Similarity.searchIvfBqIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // IVF-BQ delete leg: the layout-agnostic tombstone table masks
    // the probed cells' codes BEFORE the Hamming shortlist ranks —
    // oracle is the cell-blocked replay with the deleted ids excluded
    // from the candidate side (probes untouched). PipelineSpec pins
    // compaction parity + drain via the shared cell-table machinery.
    "sim_ivfbq_delete" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivfbq_del")
      Similarity.writeIvfBqIndex(vecs, cents, dir)
      Similarity.deleteFromIvfBqIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.searchIvfBqIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // COMPACTION of the cell-blocked BQ layout — the per-cell replace
    // shape (only the affected partitions rewritten) rather than
    // the whole-table rewrite; same contract, same oracle as its delete.
    "sim_ivfbq_compact" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivfbq_cmp")
      Similarity.writeIvfBqIndex(vecs, cents, dir)
      Similarity.deleteFromIvfBqIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.compactIvfBqIndex(s, dir)
      Similarity.searchIvfBqIndex(s, dir, vecs,
        vecs.filter(col("vec_id") < 10))
        .orderBy("probe_id", "rnk")
    }),

    // Metadata-FILTERED IVF-BQ serve: label rides beside the 16-byte
    // codes, the predicate filters candidates BEFORE the Hamming
    // shortlist — the filtered-serve contract at the binary-code
    // shape.
    "sim_ivfbq_filtered" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val cents = Similarity.kmeansTrain(
        vecs.select(col("vec_id"), col("v")), k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivfbq_filt")
      Similarity.writeIvfBqIndex(vecs, cents, dir)
      Similarity.searchIvfBqIndexWhere(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), col("label") % 2 === 0)
        .orderBy("probe_id", "rnk")
    }),

    // Range mode of the persisted IVF-BQ serve: Hamming gates the
    // shortlist, the exact refine applies the radius — the
    // approximate-range composition at the binary-code shape. With
    // this pair the top-k / filtered / range mode triple holds for
    // EVERY quantized persisted layout (sq8 / pq / bq / imi / imipq).
    "sim_ivfbq_range" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivfbq_rng")
      Similarity.writeIvfBqIndex(vecs, cents, dir)
      Similarity.searchIvfBqIndexRange(s, dir, vecs,
          vecs.filter(col("vec_id") < 10), tau = 0.2)
        .orderBy("probe_id", "neighbor_id")
    }),

    // RANGE serve from the persisted IVF layout: the full cos ≥ 0.2
    // ball within the probed cells (threshold recall, no top-k window
    // anywhere) — sim_range_search's contract without the corpus scan.
    "sim_ivf_range" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivf_rng")
      Similarity.writeIvfIndex(vecs, cents, dir)
      Similarity.searchIvfIndexRange(s, dir,
        vecs.filter(col("vec_id") < 15), tau = 0.2, nprobe = 2)
        .orderBy("probe_id", "neighbor_id")
    }),

    // Incremental ANN ingestion: index HALF the corpus, append the
    // other half against the stored centroids (quantizer fixed once
    // trained — no rebuild, no re-bucketing), serve the union. The
    // centroids train on the full corpus, so the served result is
    // identical to the monolithic sim_ivf_persist build and it gates
    // against the same replay.
    "sim_ivf_append" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivf_app")
      Similarity.writeIvfIndex(vecs.filter(col("vec_id") % 2 === 0),
        cents, dir)
      Similarity.appendIvfIndex(s, vecs.filter(col("vec_id") % 2 =!= 0),
        dir)
      Similarity.searchIvfIndex(s, dir, vecs.filter(col("vec_id") < 15),
        3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Tombstone DELETION from a persisted ANN index — the removal half
    // of the lifecycle next to sim_ivf_append's add half (user
    // deletion requests, retracted documents): build on the full
    // corpus, delete every 7th vector, serve. Deleted ids vanish from
    // every result list while the index files are untouched — one
    // broadcast anti-join masks them at serve. Oracle: the same
    // trained-IVF replay with the deleted ids excluded from the index
    // side (probes untouched). PipelineSpec additionally pins that
    // compaction (the affected-partition rewrite) serves
    // bit-identically and drains the tombstone table.
    "sim_ivf_delete" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivf_del")
      Similarity.writeIvfIndex(vecs, cents, dir)
      Similarity.deleteFromIvfIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.searchIvfIndex(s, dir, vecs.filter(col("vec_id") < 15),
        3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // COMPACTION of the flat IVF layout (the per-cell replace loop
    // over the float cell table); same oracle as its delete — the
    // affected-partition rewrite must serve bit-identically to the
    // tombstone mask it replaces.
    "sim_ivf_compact" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivf_cmp")
      Similarity.writeIvfIndex(vecs, cents, dir)
      Similarity.deleteFromIvfIndex(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.compactIvfIndex(s, dir)
      Similarity.searchIvfIndex(s, dir, vecs.filter(col("vec_id") < 15),
        3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Scalar-quantized (SQ8) persisted ANN index — the middle rung of
    // the compression ladder between the flat layout (1×) and IVF-PQ
    // (~32×): int8 codes + ONE per-vector scale (4× smaller, no
    // codebook), cell-partitioned like the flat layout; the serve
    // scores maximum inner product ASYMMETRICALLY (full-precision
    // probes against dequantized codes — the scale factors out of the
    // code-side sum). The corpus-side float vectors are never read at
    // serve: the layout doesn't store them.
    "sim_sq8_persist" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_sq8_idx")
      Similarity.writeIvfSq8Index(vecs, cents, dir)
      Similarity.searchIvfSq8Index(s, dir,
        vecs.filter(col("vec_id") < 15), 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // SQ8 append leg: quantizer trains on the full corpus, index
    // builds on half, the rest appends against the STORED centroids —
    // assignment AND quantization are per-vector (the scale needs no
    // global calibration), so the served union is bit-identical to the
    // monolithic sim_sq8_persist build and gates on the same replay.
    "sim_sq8_append" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_sq8_app")
      Similarity.writeIvfSq8Index(vecs.filter(col("vec_id") % 2 === 0),
        cents, dir)
      Similarity.appendIvfSq8Index(s,
        vecs.filter(col("vec_id") % 2 =!= 0), dir)
      Similarity.searchIvfSq8Index(s, dir,
        vecs.filter(col("vec_id") < 15), 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // RANGE serve from the persisted SQ8 layout — sim_ivf_range's
    // contract on the compressed rows: every neighbor in the probed
    // cells scoring ip_r >= 0.2 under the layout's own asymmetric
    // MIPS (threshold recall, no ranking window anywhere). Closes the
    // serve-mode matrix's range cell for the SQ8 rung.
    "sim_sq8_range" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_sq8_rng")
      Similarity.writeIvfSq8Index(vecs, cents, dir)
      Similarity.searchIvfSq8IndexRange(s, dir,
        vecs.filter(col("vec_id") < 15), tau = 0.2, nprobe = 2)
        .orderBy("probe_id", "neighbor_id")
    }),

    // SQ8 delete leg: tombstone every 7th vector (the layout-agnostic
    // id table + broadcast anti-join mask, sim_ivf_delete's contract
    // on the compressed rows); oracle is the SQ8 replay with the
    // deleted ids excluded from the index side. PipelineSpec pins that
    // compaction serves bit-identically and drains the tombstones.
    "sim_sq8_delete" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_sq8_del")
      Similarity.writeIvfSq8Index(vecs, cents, dir)
      Similarity.deleteFromIvfSq8Index(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.searchIvfSq8Index(s, dir,
        vecs.filter(col("vec_id") < 15), 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // Metadata-FILTERED SQ8 serve — sim_ivf_filtered's contract on
    // the compressed rows (the int8 table carries the label beside
    // the codes), completing the top-k / filtered / range mode
    // triple for the SQ8 layout.
    "sim_sq8_filtered" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val cents = Similarity.kmeansTrain(
        vecs.select(col("vec_id"), col("v")), k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_sq8_filt")
      Similarity.writeIvfSq8Index(vecs, cents, dir)
      Similarity.searchIvfSq8IndexWhere(s, dir,
        vecs.filter(col("vec_id") < 15), 3, nprobe = 2,
        col("label") % 2 === 0)
        .orderBy("probe_id", "rnk")
    }),

    // COMPACTION of the SQ8 layout (affected-partition rewrite over
    // the int8 cell table); same oracle as its delete.
    "sim_sq8_compact" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(vecs, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_sq8_cmp")
      Similarity.writeIvfSq8Index(vecs, cents, dir)
      Similarity.deleteFromIvfSq8Index(s,
        vecs.filter(col("vec_id") % 7 === 0).select(col("vec_id")), dir)
      Similarity.compactIvfSq8Index(s, dir)
      Similarity.searchIvfSq8Index(s, dir,
        vecs.filter(col("vec_id") < 15), 3, nprobe = 2)
        .orderBy("probe_id", "rnk")
    }),

    // FILTERED ANN serve — the filtered-vector-search contract (tenant
    // scoping, source restriction): the index persists the label
    // metadata column alongside the vectors, and the serve restricts
    // to even-label rows BEFORE scoring, so the top-k ranks over
    // matching vectors only. The filter reaches the parquet scan as a
    // pushed data filter next to the cell DPP (spec-pinned), and
    // serving a pre-filtered index is bit-identical (spec-pinned).
    // Oracle: the trained-IVF replay with the index side restricted to
    // even-label vec_ids.
    "sim_ivf_filtered" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
      val train = vecs.select(col("vec_id"), col("v"))
      val cents = Similarity.kmeansTrain(train, k = 8, iters = 2)
      val dir = FlowLogQueries.scratchDir("graft_ivf_filt")
      Similarity.writeIvfIndex(vecs, cents, dir)
      Similarity.searchIvfIndexWhere(s, dir,
        train.filter(col("vec_id") < 15), 3, nprobe = 2,
        col("label") % 2 === 0)
        .orderBy("probe_id", "rnk")
    }),

    // Maximum-inner-product top-k: unnormalized ⟨q, x⟩ ranking — the
    // two-tower recommender primitive where item norm IS signal. Same
    // broadcast-probes/streaming-corpus shape as the cosine family;
    // PipelineSpec pins the MIPS→cosine norm-augmentation reduction
    // that lets the IVF machinery serve it.
    "sim_mips_topk" -> ((s, d) => {
      val vecs = Similarity.vectors(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"))
      Similarity.mipsTopK(vecs, vecs.filter(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rnk")
    }),

    // Deterministic hash-bucket negative sampling: kNeg=4 md5-drawn
    // negatives per anchor from a broadcastable 64-row representative
    // table — no global index, no shuffle of the corpus, reproducible
    // across engines and retries. Draws index OCCUPIED buckets (hash
    // mod the occupied count), so no draw can land on an empty bucket
    // and vanish — every anchor gets kNeg minus self-collisions.
    "pipeline_negative_sample" -> ((s, d) =>
      Sampling.negativeSample(Tables.documents(s, d), col("doc_id"),
        kNeg = 4, buckets = 64)
        .orderBy("doc_id", "j")),

    // Hard-negative mining for contrastive training: each vector's
    // ANN candidates (the IVF-blocked k-NN join) MINUS anything in its
    // own near-duplicate component — "semantically close but not a
    // duplicate", exactly the pairs an embedding model learns most
    // from. Pure composition of two gated operators: knnJoin provides
    // closeness, the semantic component closure provides the
    // exclusion; survivors re-rank densely per probe. Scale: the knn
    // side is cell-bounded, the component label table joins co-keyed
    // on the id — nothing new shuffles beyond the two parents.
    "pipeline_hard_negatives" -> ((s, d) => {
      // augmented set: injected exact duplicates make the component
      // closure non-trivial, so the exclusion provably fires (the
      // dup IS its twin's nearest neighbor at cos 1.0 and must drop)
      val vecs = Similarity.augmentVectors(Tables.embeddings(s, d))
      val knn = Similarity.knnJoin(vecs, 3, nprobe = 2)
      val comp = ConnectedComponents.canonicalize(
          vecs.select(col("vec_id").as("doc_id")),
          Similarity.cosineDupPairs(vecs, 0.8)
            .select(col("id_a"), col("id_b")))
        .select(col("doc_id"), col("component"))
      knn
        .join(comp.select(col("doc_id").as("probe_id"),
          col("component").as("comp_p")), Seq("probe_id"))
        .join(comp.select(col("doc_id").as("neighbor_id"),
          col("component").as("comp_n")), Seq("neighbor_id"))
        .filter(col("comp_p") =!= col("comp_n"))
        .withColumn("hn_rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("probe_id"))
            .orderBy(col("cos_r").desc, col("neighbor_id"))))
        .select(col("probe_id"), col("neighbor_id"), col("cos_r"),
          col("hn_rank"))
        .orderBy("probe_id", "hn_rank")
    }),

    // KMV distinct-count synopsis per source: k smallest md5-48 hashes,
    // estimate (k-1)·2^48 div h_k — the mergeable cardinality sketch a
    // profiler keeps per shard instead of a COUNT(DISTINCT) that must
    // see every row. k=16 < docs-per-source, so the ESTIMATE path (not
    // the exact small-group fallback) is what gates here. Exact
    // integer arithmetic end to end.
    "sketch_kmv_distinct" -> ((s, d) =>
      Sketches.kmvDistinct(Tables.documents(s, d), col("text"),
        col("source"), k = 16)
        .withColumnRenamed("grp", "source")
        .orderBy("source")),

    // Count-min heavy hitters over the event stream: a d×w=3×256
    // counter table built in one linear pass (map-side partials are
    // themselves sketches), then candidate keys scored by min-of-d
    // broadcast lookups. est_c ≥ true_c by construction — the gate
    // pins the exact collision inflation, not just the bound.
    "sketch_cms_heavy" -> ((s, d) =>
      Sketches.cmsHeavyHitters(Tables.events(s, d), col("user_id"),
        depth = 3, width = 256, minCount = 50L)
        .orderBy(col("true_c").desc, col("k"))),

    // Sharded KMV: per-shard k-smallest synopses merged by re-rank —
    // the fleet path (k rows per shard cross the wire, never data).
    // Gated against the SAME oracle as sketch_kmv_distinct: the merge
    // property says the results are bit-identical, so prove it.
    "sketch_kmv_sharded" -> ((s, d) =>
      Sketches.kmvDistinctSharded(Tables.documents(s, d), col("text"),
        col("source"), col("doc_id") % 4, k = 16)
        .withColumnRenamed("grp", "source")
        .orderBy("source")),

    // Persisted KMV: the k-row synopsis round-trips through parquet
    // (BIGINT hashes — exact) and estimates identically — the profiler
    // ships synopses to a stats store, never re-scans the corpus.
    // Same oracle as the monolithic form.
    "sketch_kmv_persist" -> ((s, d) => {
      val dir = FlowLogQueries.scratchDir("graft_kmv_syn")
      Sketches.kmvSynopsis(
        Tables.documents(s, d).select(col("source").as("grp"),
          Sketches.h48(col("text")).as("h")), 16)
        .write.mode("overwrite").parquet(dir)
      Sketches.kmvEstimate(s.read.parquet(dir), 16)
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    }),

    // KMV set-overlap: one merged 64-hash synopsis of base-corpus ∪
    // augmented-corpus estimates their Jaccard and intersection size —
    // the cross-crawl overlap question answered from 2k rows, exact
    // integer arithmetic throughout.
    "sketch_kmv_jaccard" -> ((s, d) =>
      Sketches.kmvJaccard(
        Tables.documents(s, d), col("text"),
        Dedup.augmentCorpus(Tables.documents(s, d)), col("text"),
        k = 64)),

    // HLL-style registers built relationally: distinct words per
    // source via 64 max-ρ registers, harmonic sum kept exact by
    // integer scaling, linear-counting small-range branch — the
    // mergeable cardinality sketch with O(m) state per group.
    "sketch_hll_distinct" -> ((s, d) =>
      Sketches.hllDistinct(
        Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " "))
            .as("word")),
        col("word"), col("source"))
        .withColumnRenamed("grp", "source")
        .orderBy("source")),

    // Persisted CMS: the d×w cell table round-trips through parquet
    // (BIGINT counts — exact) and serves the same heavy-hitter
    // estimates, gated against the monolithic oracle. The sketch
    // family's build→persist→serve triad, matching the IVF / BM25
    // index pattern: what ships to the serving tier is the sketch,
    // never the stream that built it.
    "sketch_cms_persist" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dir = FlowLogQueries.scratchDir("graft_cms_idx")
      Sketches.cmsBuild(ev, col("user_id"), depth = 3, width = 256)
        .write.mode("overwrite").parquet(dir)
      Sketches.cmsScore(s.read.parquet(dir),
        ev.select(col("user_id").cast("string").as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("true_c"))
          .filter(col("true_c") >= 50L),
        depth = 3, width = 256)
        .orderBy(col("true_c").desc, col("k"))
    }),

    // Sharded HLL: per-shard register tables merged by the same max
    // that built them (registers are max-stable), gated against the
    // monolithic oracle — the third mergeability proof next to the
    // KMV re-rank and the CMS cell sum.
    "sketch_hll_sharded" -> ((s, d) =>
      Sketches.hllDistinctSharded(
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            explode(split(col("text"), " ")).as("word")),
        col("word"), col("source"), col("doc_id") % 4)
        .withColumnRenamed("grp", "source")
        .orderBy("source")),

    // Persisted HLL: the all-integer register table round-trips
    // through parquet and estimates identically — the third (and
    // final) build→persist→serve triad of the sketch family, next to
    // sketch_cms_persist and sketch_kmv_persist. Same oracle as the
    // monolithic sketch_hll_distinct: m rows per group ship to the
    // stats store, the corpus is never re-scanned at serve time.
    "sketch_hll_persist" -> ((s, d) =>
      Sketches.hllPersistRoundTrip(
        Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " "))
            .as("word")),
        col("word"), col("source"),
        FlowLogQueries.scratchDir("graft_hll_regs"))
        .withColumnRenamed("grp", "source")
        .orderBy("source")),

    // EXTERNAL-candidate CMS lookups: the serve contract a frequency
    // sketch actually signs up for — candidate keys that the build
    // stream may never have seen (here every customer key, 10% of
    // which appear as event user_ids) score against the persisted
    // sketch. Keys absent from the build estimate from zeroed missing
    // cells (left join + coalesce), preserving the one-sided est ≥
    // true guarantee at true_c = 0 instead of inflating to the min of
    // whatever cells collisions populated — the lookup semantics a
    // candidate-from-elsewhere pipeline (yesterday's heavy list,
    // another shard's top-N) depends on.
    "sketch_cms_lookup" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dir = FlowLogQueries.scratchDir("graft_cms_ext")
      Sketches.cmsBuild(ev, col("user_id"), depth = 3, width = 256)
        .write.mode("overwrite").parquet(dir)
      val cand = Tables.customer(s, d)
        .select(col("c_custkey").cast("string").as("k"))
        .join(ev.groupBy(col("user_id").cast("string").as("k"))
          .agg(count(lit(1)).as("true_c")), Seq("k"), "left")
        .na.fill(0L, Seq("true_c"))
      Sketches.cmsScore(s.read.parquet(dir), cand,
        depth = 3, width = 256)
        .orderBy(col("k"))
    }),

    // Pairwise set algebra over STORED KMV synopses: per-source
    // bottom-64 hash synopses of 8-char shingles persist once, then
    // every unordered source pair's union / intersection / difference
    // cardinalities and Jaccard compute from the store alone (Beyer
    // et al. 2007) — the cross-source contamination matrix for a
    // corpus collection answered from k rows per source, the corpora
    // never re-read. All-integer estimates; the DuckDB oracle replays
    // the full synopsis → merge → flag derivation.
    "sketch_kmv_setops" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .filter(length(col("text")) >= 8)
        .select(col("source"), explode(expr(
          "transform(sequence(1, length(text) - 7), " +
            "i -> substring(text, i, 8))")).as("sh"))
      val dir = FlowLogQueries.scratchDir("graft_kmv_syn")
      Sketches.writeKmvSynopses(sh, col("sh"), col("source"), dir, k = 64)
      Sketches.kmvSetOps(s, dir, k = 64)
        .orderBy("ga", "gb")
    }),

    // Sharded CMS: four per-shard counter tables merged cell-wise
    // (count-min is linear), scored like the monolithic sketch and
    // gated against its oracle — the distributed-build contract.
    "sketch_cms_sharded" -> ((s, d) =>
      Sketches.cmsHeavyHittersSharded(Tables.events(s, d),
        col("user_id"), col("event_id") % 4,
        depth = 3, width = 256, minCount = 50L)
        .orderBy(col("true_c").desc, col("k"))),

    // CMS deletion by SUBTRACTION — the turnstile leg only count-min
    // in the sketch family can offer (HLL registers are max-stable,
    // a KMV synopsis forgets evicted keys): retract every 5th event's
    // contribution cell-wise from the built sketch. Linearity makes
    // the result bit-identical to a sketch built fresh over the
    // survivors — which is exactly what the oracle builds — so a
    // retention delete (GDPR retraction, TTL'd events) is an O(d·w)
    // sketch-side subtraction, never a corpus rebuild.
    "sketch_cms_delete" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val all = Sketches.cmsBuild(ev, col("user_id"),
        depth = 3, width = 256)
      val gone = Sketches.cmsBuild(ev.filter(col("event_id") % 5 === 0),
        col("user_id"), depth = 3, width = 256)
      Sketches.cmsSubtract(all, gone).orderBy("j", "bucket")
    }),

    // Token-budget mixture materialization: each source contributes
    // documents in ascending-id order until 2000 tokens — the unit a
    // training recipe is actually written in. One window cumsum per
    // source + a map-side cut.
    "pipeline_token_budget" -> ((s, d) =>
      Sampling.tokenBudget(Tables.documents(s, d), col("source"),
        col("doc_id"), size(split(col("text"), " ")), budget = 2000L)
        .orderBy("source", "doc_id")),

    // Mergeable quantile sketch (4th sketch family member): per-
    // priority order-price quantiles from a bottom-64-by-hash row
    // sample — a uniform sample that merges loss-free by re-rank
    // (the KMV argument), estimates at rank ceil(q·n), and works in
    // exact integer cents so the oracle gates value-for-value.
    "sketch_quantile" -> ((s, d) =>
      Sketches.quantileSketch(Tables.orders(s, d), col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("bigint"),
        col("o_orderpriority"), k = 64)
        .withColumnRenamed("grp", "o_orderpriority")
        .orderBy("o_orderpriority", "pct")),

    // Sharded twin: per-shard bottom-k samples merged by re-rank —
    // bit-identical to the monolithic sketch (the fourth mergeability
    // proof next to KMV re-rank, CMS cell sum, HLL register max) and
    // gated against the same oracle.
    "sketch_quantile_sharded" -> ((s, d) =>
      Sketches.quantileSketchSharded(Tables.orders(s, d),
        col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("bigint"),
        col("o_orderpriority"), col("o_custkey") % 4, k = 64)
        .withColumnRenamed("grp", "o_orderpriority")
        .orderBy("o_orderpriority", "pct")),

    // Persisted quantile sample: the (grp, h, v) all-BIGINT synopsis
    // round-trips through parquet and estimates identically — every
    // sketch family member now has its build→persist→serve triad
    // (KMV, CMS, HLL, quantile). Same oracle as the monolithic form.
    "sketch_quantile_persist" -> ((s, d) => {
      val dir = FlowLogQueries.scratchDir("graft_qsk_syn")
      Sketches.quantileSample(
        Tables.orders(s, d).select(col("o_orderpriority").as("grp"),
          Sketches.h48(col("o_orderkey")).as("h"),
          round(col("o_totalprice") * 100, 0).cast("bigint").as("v")), 64)
        .write.mode("overwrite").parquet(dir)
      Sketches.quantileEstimate(s.read.parquet(dir), Seq(25, 50, 75, 95))
        .withColumnRenamed("grp", "o_orderpriority")
        .orderBy("o_orderpriority", "pct")
    }),

    // Small-file compaction plan: documents stand in for a file
    // inventory (source = table partition, n_chars = file bytes);
    // next-fit bins at a 20 kB target via one window cumsum — the
    // OPTIMIZE planning pass, emitting |bins| rows not |files|.
    "pipeline_compaction_plan" -> ((s, d) =>
      Profiling.compactionPlan(
        Tables.documents(s, d).select(col("source").as("part_key"),
          col("doc_id").as("file_id"), col("n_chars").as("bytes")),
        targetBytes = 20000L)
        .orderBy("part_key", "bin"))
  )

  // ---- oracles ----

  // Shared by sketch_kmv_distinct and sketch_kmv_sharded: the shard
  // synopses' merged re-rank is bit-identical to the monolithic
  // k-smallest, so both gate against one SQL.
  private val kmvDistinctOracle =
    """WITH h AS (
      |  SELECT DISTINCT source,
      |         CAST(CAST(('0x' || substr(md5(text), 1, 12)) AS UBIGINT)
      |           AS BIGINT) AS h
      |  FROM documents),
      |r AS (SELECT source, h,
      |        row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
      |      FROM h),
      |kk AS (SELECT source, count(*) AS n_kept, max(h) AS hk
      |       FROM r WHERE rnk <= 16 GROUP BY source)
      |SELECT source, n_kept,
      |       CASE WHEN n_kept < 16 THEN n_kept
      |            ELSE (15 * 281474976710656) // hk END AS est_distinct
      |FROM kk ORDER BY source""".stripMargin

  // Shared by sketch_cms_heavy and sketch_cms_sharded: count-min is
  // linear, so the cell-wise-merged shard sketches equal the
  // monolithic build exactly.
  private val cmsHeavyOracle =
    """WITH kx AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
      |js AS (SELECT unnest([1, 2, 3]) AS j),
      |cells AS (
      |  SELECT k, j,
      |         CAST(CAST(('0x' || substr(
      |             md5(CAST(j AS VARCHAR) || ':' || k), 1, 12)) AS UBIGINT)
      |           AS BIGINT) % 256 AS bucket
      |  FROM kx CROSS JOIN js),
      |cms AS (SELECT j, bucket, count(*) AS c
      |        FROM cells GROUP BY j, bucket),
      |cand AS (SELECT k, count(*) AS true_c FROM kx
      |         GROUP BY k HAVING count(*) >= 50),
      |cc AS (
      |  SELECT cand.k, true_c, j,
      |         CAST(CAST(('0x' || substr(
      |             md5(CAST(j AS VARCHAR) || ':' || cand.k), 1, 12))
      |           AS UBIGINT) AS BIGINT) % 256 AS bucket
      |  FROM cand CROSS JOIN js)
      |SELECT cc.k, true_c, min(c) AS est_c
      |FROM cc JOIN cms USING (j, bucket)
      |GROUP BY cc.k, true_c
      |ORDER BY true_c DESC, k""".stripMargin

  // The CdcKernel window hash at position `p.i` of `f.text`, as its
  // windowed-sum form: Σ_j ord(char at i-j)·Base^j mod Mod — w bounded
  // ord/substr terms, bit-equal to the Spark kernel's O(n) rolling
  // recurrence (the recurrence and the sum are the same polynomial;
  // only the evaluation order differs, and both reduce mod the same
  // prime). Products stay < 2^52, so BIGINT arithmetic is exact.
  private def cdcCutPredicate(window: Int, divisor: Int): String = {
    import graft.functions.CdcKernel.{Base, Mod}
    val pows = Iterator.iterate(1L)(_ * Base % Mod).take(window).toSeq
    val terms = pows.zipWithIndex.map { case (pj, j) =>
      s"(CAST(ord(substr(f.text, CAST(p.i - $j AS BIGINT), 1)) " +
        s"AS BIGINT) * $pj % $Mod)"
    }.mkString("(", " + ", ")")
    s"($terms % $Mod) % $divisor = 0"
  }

  // Shared by mm_chunk_store and mm_chunk_gc: the CDC cut replay over
  // the duplicate-injected corpus (optionally minus a deleted-doc
  // predicate) with one md5 per document gating byte-exact reassembly.
  private def chunkStoreOracleWhere(pred: String): String =
    s"""WITH $corpusCte,
       |f AS (SELECT doc_id, text, length(text) AS n FROM corpus
       |      WHERE length(text) > 0 $pred),
       |pos AS (
       |  SELECT doc_id, unnest(generate_series(8, n)) AS i FROM f),
       |cut AS (
       |  SELECT p.doc_id, p.i
       |  FROM pos p JOIN f USING (doc_id)
       |  WHERE ${cdcCutPredicate(8, 32)}),
       |b AS (
       |  SELECT f.doc_id, f.text, f.n,
       |         coalesce(list_sort(list(cut.i)
       |             FILTER (WHERE cut.i IS NOT NULL)), []) AS cuts
       |  FROM f LEFT JOIN cut USING (doc_id)
       |  GROUP BY f.doc_id, f.text, f.n),
       |b2 AS (
       |  SELECT doc_id, text, n,
       |         CASE WHEN len(cuts) = 0 OR cuts[len(cuts)] <> n
       |              THEN list_append(cuts, n) ELSE cuts END AS bounds
       |  FROM b)
       |SELECT doc_id, CAST(len(bounds) AS BIGINT) AS n_chunks,
       |       CAST(n AS BIGINT) AS doc_len, md5(text) AS r_hash
       |FROM b2 ORDER BY doc_id""".stripMargin

  // Shared by text_bpe_train / text_bpe_apply: three unrolled BPE
  // rounds. The merge rewrite is POSITIONAL (an independent
  // implementation of the Spark fold): candidates are (sym, next)
  // matches of the round's best pair; within a run of consecutive
  // candidate positions only even offsets merge (leftmost-first
  // non-overlap — the a==b "aaaa" case); merged rows take sym||nxt and
  // their successors drop; positions renumber densely per round.
  private val bpeRoundsCtes: String = {
    def round(k: Int) =
      s"""p$k AS (SELECT word, wc, pos, sym,
         |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM s$k),
         |c$k AS (SELECT sym AS a, nxt AS b, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM p$k WHERE nxt IS NOT NULL GROUP BY sym, nxt),
         |b$k AS (SELECT a, b, cnt FROM c$k ORDER BY cnt DESC, a, b LIMIT 1),
         |m$k AS (SELECT p.word, p.wc, p.pos, p.sym, p.nxt,
         |    (p.sym = b.a AND p.nxt = b.b) AS cand
         |  FROM p$k p CROSS JOIN b$k b),
         |r$k AS (SELECT *, CASE WHEN cand THEN pos - count(*) FILTER (WHERE cand)
         |    OVER (PARTITION BY word ORDER BY pos) END AS runid
         |  FROM m$k),
         |k$k AS (SELECT *, CASE WHEN cand THEN
         |    (pos - min(pos) OVER (PARTITION BY word, runid)) % 2 = 0
         |    ELSE FALSE END AS keep
         |  FROM r$k),
         |d$k AS (SELECT word, wc, pos,
         |    CASE WHEN keep THEN sym || nxt ELSE sym END AS sym,
         |    lag(keep) OVER (PARTITION BY word ORDER BY pos) AS prev_keep
         |  FROM k$k),
         |s${k + 1} AS (SELECT word, wc,
         |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
         |  FROM d$k WHERE prev_keep IS DISTINCT FROM TRUE)""".stripMargin
    s"""toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |v0 AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM toks
       |       WHERE length(word) > 0 GROUP BY word),
       |s1 AS (SELECT word, wc, i AS pos, substr(word, i, 1) AS sym
       |       FROM (SELECT word, wc,
       |               unnest(generate_series(1, length(word))) AS i
       |             FROM v0)),
       |${(1 to 3).map(round).mkString(",\n")}""".stripMargin
  }

  // Shared by sketch_hll_distinct and sketch_hll_sharded: register
  // merge is max-stable, so the sharded build is bit-identical.
  private val hllDistinctOracle =
    """WITH w AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |h AS (
      |  SELECT source,
      |         CAST(CAST(('0x' || substr(md5(word), 1, 12)) AS UBIGINT)
      |           AS BIGINT) AS h
      |  FROM w),
      |r AS (SELECT source, h % 64 AS bucket, h // 64 AS rest FROM h),
      |rr AS (
      |  SELECT source, bucket,
      |         CASE WHEN rest = 0 THEN 43
      |              ELSE 43 - length(bin(rest)) END AS rho
      |  FROM r),
      |m AS (SELECT source, bucket, max(rho) AS mj
      |      FROM rr GROUP BY source, bucket),
      |agg AS (
      |  SELECT source, count(*) AS n_buckets,
      |         CAST(sum(CAST(1 AS BIGINT) << (50 - mj)) AS BIGINT)
      |           AS s_present
      |  FROM m GROUP BY source),
      |fin AS (
      |  SELECT source, n_buckets, 64 - n_buckets AS v,
      |         s_present + (64 - n_buckets) * 1125899906842624 AS s
      |  FROM agg)
      |SELECT source, n_buckets,
      |       round(CASE WHEN (CAST(0.709 AS DOUBLE) * 4096 *
      |                        1125899906842624) / s <= 160.0 AND v > 0
      |                  THEN 64.0 * ln(64.0 / v)
      |                  ELSE (CAST(0.709 AS DOUBLE) * 4096 *
      |                        1125899906842624) / s END, 4) AS est_hll
      |FROM fin ORDER BY source""".stripMargin

  // Shared by sketch_quantile and sketch_quantile_sharded: the shard
  // merge is a re-rank of per-shard bottom-k samples (the KMV
  // argument), so both compute the identical sample and estimates.
  private lazy val quantileSketchOracle =
    """WITH src AS (
      |  SELECT o_orderpriority AS grp,
      |         CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
      |           1, 12)) AS UBIGINT) AS BIGINT) AS h,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
      |  FROM orders),
      |samp AS (
      |  SELECT grp, h, v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY grp ORDER BY h, v)
      |      AS rnk FROM src)
      |  WHERE rnk <= 64),
      |ranked AS (
      |  SELECT grp, v,
      |         row_number() OVER (PARTITION BY grp ORDER BY v, h) AS rn,
      |         count(*) OVER (PARTITION BY grp) AS n_kept
      |  FROM samp)
      |SELECT grp AS o_orderpriority, pct, CAST(n_kept AS BIGINT) AS n_kept,
      |       v AS est_v
      |FROM ranked CROSS JOIN (SELECT unnest([25, 50, 75, 95]) AS pct)
      |WHERE rn = greatest(1, (pct * n_kept + 99) // 100)
      |ORDER BY o_orderpriority, pct""".stripMargin

  // Shared by dedup_incremental and dedup_lsh_persist: the persisted
  // bucket index round-trips strings/BIGINTs exactly, so the served
  // cross-side pairs equal the live incremental pairs.
  private lazy val lshIncrementalOracle = lshIncrementalOracleWhere("")

  /** The incremental-LSH replay with an optional extra predicate on
    * the BASE side — shared by the live/persisted twins (empty) and
    * dedup_lsh_delete (deleted base docs excluded; index rows are
    * per-doc, so deletion ≡ rebuild without them). */
  private def lshIncrementalOracleWhere(basePred: String): String =
    s"""WITH $corpusCte,
       |$shinglesCte,
       |$lshV2CandCte,
       |inc AS (
       |  SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id
       |  FROM buckets n JOIN buckets b ON n.bucket = b.bucket
       |  WHERE n.doc_id >= 100000 AND b.doc_id < 100000 $basePred)
       |SELECT new_id, base_id FROM inc
       |ORDER BY new_id, base_id""".stripMargin

  // Shared by sim_knn_join_indexed and sim_knn_join_persist: the
  // persisted assignment table is all-integer, so the serve leg is
  // bit-identical to the in-memory self-indexed join.
  private lazy val knnJoinIndexedOracle = knnJoinIndexedOracleWhere("")

  /** The self-indexed k-NN replay with an optional exclusion on the
    * PARTICIPANTS (probe and corpus roles both key on the vector's own
    * id) while the label centroids stay full-corpus — deletion under
    * the original quantizer, the stored-assignment contract. */
  private def knnJoinIndexedOracleWhere(pred: String): String =
    s"""WITH vecsl AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |dims AS (
       |  SELECT vec_id, label, unnest(v) AS x,
       |         unnest(generate_series(1, len(v))) AS pos
       |  FROM vecsl),
       |cents AS (
       |  SELECT label, pos, avg(x) AS cmean FROM dims GROUP BY label, pos),
       |d2 AS (
       |  SELECT d.vec_id AS probe_id, c.label, sum((x - cmean) * (x - cmean)) AS dist2
       |  FROM dims d JOIN cents c USING (pos) GROUP BY d.vec_id, c.label),
       |ranked_cells AS (
       |  SELECT probe_id, label AS assigned_label, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY round(dist2, 6), label) AS rn FROM d2)),
       |assigned AS (
       |  SELECT probe_id, assigned_label FROM ranked_cells
       |  WHERE rn <= 2 $pred),
       |idx AS (
       |  SELECT probe_id AS corpus_id, assigned_label AS cell
       |  FROM ranked_cells WHERE rn = 1 $pred),
       |scored AS (
       |  SELECT a.probe_id, o.vec_id AS neighbor_id,
       |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
       |  FROM assigned a JOIN vecsl p ON p.vec_id = a.probe_id
       |  JOIN idx i ON i.cell = a.assigned_label
       |  JOIN vecsl o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM scored)
       |SELECT probe_id, neighbor_id, cos_r, rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      s"""WITH $corpusCte
         |SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
         |       md5(text) AS text_hash
         |FROM corpus GROUP BY text ORDER BY keep_id""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $corpusCte,
         |$shinglesCte,
         |$lshCte
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin,

    // Salting is internal: the guarded operator must emit exactly the
    // unguarded candidate set, so the oracle IS the unguarded SQL.
    "dedup_lsh_skew_guarded" ->
      s"""WITH $corpusCte,
         |$shinglesCte,
         |$lshV2CandCte
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash_v2" ->
      s"""WITH $corpusCte,
         |$shinglesCte,
         |$lshV2Cte
         |SELECT doc_id, h1, h2, h3, h4, h5, h6
         |FROM sigp ORDER BY doc_id""".stripMargin,

    "dedup_lsh_v2" ->
      s"""WITH $corpusCte,
         |$shinglesCte,
         |$lshV2CandCte
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $corpusCte,
         |$shinglesCte,
         |$lshV2CandCte,
         |szs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.id_a
         |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
         |  GROUP BY c.id_a, c.id_b)
         |SELECT i.id_a, i.id_b,
         |       CAST(i.n_inter AS DOUBLE) /
         |       CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) AS jac_r
         |FROM inter i
         |JOIN szs za ON za.doc_id = i.id_a
         |JOIN szs zb ON zb.doc_id = i.id_b
         |WHERE CAST(i.n_inter AS DOUBLE) /
         |      CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_simhash" -> {
      val sums = (1 to 16).map(i =>
        s"sum(CASE WHEN strpos('89abcdef', substr(h, $i, 1)) > 0 THEN 1 ELSE -1 END) AS s$i")
        .mkString(",\n         ")
      val bits = (1 to 16).map(i =>
        s"(CASE WHEN s$i > 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH $corpusCte,
         |wh AS (
         |  SELECT DISTINCT doc_id, md5(word) AS h FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus)),
         |votes AS (
         |  SELECT doc_id,
         |         $sums
         |  FROM wh GROUP BY doc_id)
         |SELECT doc_id, $bits AS simhash FROM votes ORDER BY doc_id""".stripMargin
    },

    "dedup_components" ->
      s"""WITH RECURSIVE $corpusCte,
         |$shinglesCte,
         |$lshV2CandCte,
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM cand
         |  UNION SELECT id_b AS u, id_a AS v FROM cand),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u)
         |SELECT c.doc_id, coalesce(p.component, c.doc_id) AS component,
         |       coalesce(p.component, c.doc_id) = c.doc_id AS is_canonical
         |FROM corpus c LEFT JOIN comp p ON c.doc_id = p.doc_id
         |ORDER BY c.doc_id""".stripMargin,

    // Component replay (the dedup_components recursive CTE) composed
    // with the md5 bucket formula applied to the COMPONENT id.
    "pipeline_leakage_safe_split" ->
      s"""WITH RECURSIVE $corpusCte,
         |$shinglesCte,
         |$lshV2CandCte,
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM cand
         |  UNION SELECT id_b AS u, id_a AS v FROM cand),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |assigned AS (
         |  SELECT c.doc_id, coalesce(p.component, c.doc_id) AS component
         |  FROM corpus c LEFT JOIN comp p ON c.doc_id = p.doc_id),
         |bk AS (
         |  SELECT doc_id, component,
         |         CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 3))
         |              AS INTEGER) % 100 AS bucket
         |  FROM assigned)
         |SELECT doc_id, component, bucket,
         |       CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'valid'
         |            ELSE 'test' END AS split
         |FROM bk ORDER BY doc_id""".stripMargin,

    "pipeline_hash_split" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)) AS INTEGER) % 100 AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)) AS INTEGER) % 100 < 80 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)) AS INTEGER) % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pipeline_checksum" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT)) AS VARCHAR) AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "pipeline_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)) AS INTEGER) % 100 <
        |  CASE WHEN lang = 'de' THEN 100 WHEN lang = 'en' THEN 40 ELSE 10 END
        |ORDER BY doc_id""".stripMargin,

    "text_tfidf_vocab" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
        |tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term, df, n_docs,
        |  round(ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) + 1.0, 6) AS idf_r
        |FROM tf CROSS JOIN tot ORDER BY df DESC, term LIMIT 100""".stripMargin,

    "text_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks WHERE length(term) > 0 GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df
        |        FROM toks WHERE length(term) > 0 GROUP BY term),
        |tot AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, term,
        |         tf * CAST(floor((ln(CAST(n_docs + 1 AS DOUBLE) /
        |             CAST(df + 1 AS DOUBLE)) + 1.0) * 1000000.0 + 0.5)
        |           AS BIGINT) AS score_micro
        |  FROM tf JOIN dfq USING (term) CROSS JOIN tot),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score_micro DESC, term) AS INTEGER) AS rnk
        |      FROM sc)
        |SELECT doc_id, rnk, term, score_micro FROM r
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "text_decontaminate" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS gram_hash
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |        WHERE len(w) >= 8))
        |SELECT a.doc_id,
        |  count(DISTINCT a.gram_hash) AS n_shared,
        |  count(DISTINCT b.doc_id) AS n_bench_docs
        |FROM grams a JOIN grams b ON a.gram_hash = b.gram_hash
        |WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    "dedup_containment" ->
      s"""WITH $corpusCte,
         |$shinglesCte,
         |$lshV2CandCte,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_inter
         |  FROM cand JOIN sh sa ON sa.doc_id = id_a
         |            JOIN sh sb ON sb.doc_id = id_b AND sb.shingle = sa.shingle
         |  GROUP BY id_a, id_b)
         |SELECT id_a, id_b, n_inter,
         |  CAST(n_inter AS DOUBLE) / za.n_sh AS containment_a,
         |  CAST(n_inter AS DOUBLE) / zb.n_sh AS containment_b
         |FROM inter JOIN sizes za ON za.doc_id = id_a
         |           JOIN sizes zb ON zb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_substring_mass" ->
      s"""WITH $corpusCte,
         |grams AS (
         |  SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+4], ' ')) AS gram_hash
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
         |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
         |        WHERE len(w) >= 5)),
         |gdf AS (SELECT gram_hash, count(*) AS df FROM grams GROUP BY gram_hash)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |    AS dup_frac
         |FROM grams JOIN gdf USING (gram_hash)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_segments" -> segmentDedupSql,

    // The wide-key twin keys on (hash, length) internally; segment
    // semantics are identical, so the replay IS dedup_segments'.
    "dedup_segments_wide" -> segmentDedupSql,
    "dedup_substring_spans" -> substringSpansSql,
    "dedup_substring_rewrite" -> substringRewriteSql,
    "dedup_substring_decontam" -> substringDecontamSql,
    // guard twins gate against the UNGUARDED replays (bit-identity is
    // the whole contract, the dedup_lsh_skew_guarded precedent)
    "dedup_substring_skew_guarded" -> substringSpansSql,
    "dedup_substring_decontam_guarded" -> substringDecontamSql,
    "dedup_substring_selfspans" -> substringSelfSpansSql,
    // persisted-index serve: write+append must equal the monolithic
    // cross-corpus chain, so it SHARES the decontam replay
    "dedup_substring_append" -> substringDecontamSql,
    "dedup_substring_rewrite_self" -> substringRewriteSelfSql,
    "dedup_substring_scrub" -> substringScrubSql,
    "dedup_substring_scrub_incr" -> substringScrubSql,

    "dedup_fuzzy_lev" ->
      s"""WITH $corpusCte,
         |k AS (SELECT doc_id, left(text, 16) AS blk, right(text, 40) AS tail
         |      FROM corpus)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(levenshtein(a.tail, b.tail) AS INTEGER) AS lev
         |FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.tail, b.tail) <= 30
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embed_cosine" ->
      s"""WITH $vecsCte
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(${cosSql("a.v", "b.v")}, 4) AS cos_r
         |FROM vecs a JOIN vecs b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.v", "b.v")} >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embed_cosine_guarded" ->
      s"""WITH $vecsCte
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(${cosSql("a.v", "b.v")}, 4) AS cos_r
         |FROM vecs a JOIN vecs b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.v", "b.v")} >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_knn_components" ->
      s"""WITH RECURSIVE $vecsCte,
         |dims AS (
         |  SELECT vec_id, label, unnest(v) AS x,
         |         unnest(generate_series(1, len(v))) AS pos
         |  FROM vecs),
         |cents AS (
         |  SELECT label, pos, avg(x) AS cmean FROM dims GROUP BY label, pos),
         |d2 AS (
         |  SELECT d.vec_id AS probe_id, c.label, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM dims d JOIN cents c USING (pos) GROUP BY d.vec_id, c.label),
         |ranked_cells AS (
         |  SELECT probe_id, label AS assigned_label, rn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY round(dist2, 6), label) AS rn FROM d2)),
         |assigned AS (
         |  SELECT probe_id, assigned_label FROM ranked_cells WHERE rn <= 2),
         |idx AS (
         |  SELECT probe_id AS corpus_id, assigned_label AS cell
         |  FROM ranked_cells WHERE rn = 1),
         |scored AS (
         |  SELECT a.probe_id, o.vec_id AS neighbor_id,
         |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
         |  FROM assigned a JOIN vecs p ON p.vec_id = a.probe_id
         |  JOIN idx i ON i.cell = a.assigned_label
         |  JOIN vecs o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM scored),
         |pairs AS (
         |  SELECT DISTINCT least(probe_id, neighbor_id) AS id_a,
         |                  greatest(probe_id, neighbor_id) AS id_b
         |  FROM ranked WHERE rnk <= 3 AND cos_r >= 0.99),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
         |comp AS (
         |  SELECT u AS vec_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u)
         |SELECT vv.vec_id, coalesce(p.component, vv.vec_id) AS component,
         |       coalesce(p.component, vv.vec_id) = vv.vec_id AS is_canonical
         |FROM vecs vv LEFT JOIN comp p ON vv.vec_id = p.vec_id
         |ORDER BY vv.vec_id""".stripMargin,

    "dedup_semantic_components" ->
      s"""WITH RECURSIVE $vecsCte,
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM vecs a JOIN vecs b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v")} >= 0.8),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
         |comp AS (
         |  SELECT u AS vec_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u)
         |SELECT v.vec_id, coalesce(p.component, v.vec_id) AS component,
         |       coalesce(p.component, v.vec_id) = v.vec_id AS is_canonical
         |FROM vecs v LEFT JOIN comp p ON v.vec_id = p.vec_id
         |ORDER BY v.vec_id""".stripMargin,

    "dedup_semantic" ->
      s"""WITH $vecsCte,
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM vecs a JOIN vecs b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v")} >= 0.8)
         |SELECT v.vec_id, v.label, (d.vec_id IS NOT NULL) AS dropped
         |FROM vecs v LEFT JOIN dropped d ON v.vec_id = d.vec_id
         |ORDER BY v.vec_id""".stripMargin,

    "sim_topk_native" ->
      s"""WITH $ovecsCte,
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM ovecs WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, o.vec_id AS neighbor_id,
         |         round(${cosSql("pv", "o.v")}, 6) AS cos_r
         |  FROM probes, ovecs o WHERE probe_id <> o.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos_r DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, cos_r FROM ranked
         |WHERE rnk <= 5 ORDER BY probe_id, cos_r DESC, neighbor_id""".stripMargin,

    "sim_winsorize" ->
      s"""WITH $ovecsCte,
         |d AS (
         |  SELECT vec_id, unnest(range(1, len(v)+1)) AS dim, unnest(v) AS x
         |  FROM ovecs),
         |b AS (
         |  SELECT dim, quantile_cont(x, 0.05) AS lo,
         |         quantile_cont(x, 0.95) AS hi
         |  FROM d GROUP BY dim)
         |SELECT d.vec_id, CAST(d.dim AS BIGINT) AS dim,
         |  round(greatest(b.lo, least(b.hi, d.x)), 6) AS x_clip,
         |  (d.x < b.lo OR d.x > b.hi) AS clipped
         |FROM d JOIN b USING (dim)
         |ORDER BY vec_id, dim""".stripMargin,

    "sim_quantize_int8" ->
      s"""WITH $ovecsCte,
         |scaled AS (
         |  SELECT vec_id,
         |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v
         |  FROM ovecs)
         |SELECT vec_id,
         |  unnest(range(1, len(v)+1)) AS dim,
         |  CAST(CASE WHEN scale = 0 THEN 0
         |       ELSE round(unnest(v) / scale) END AS INTEGER) AS q
         |FROM scaled ORDER BY vec_id, dim""".stripMargin,

    "sim_pq_codes" ->
      s"""WITH $ovecsCte,
         |subsp AS (SELECT unnest(generate_series(0, 3)) AS sub),
         |subs AS (
         |  SELECT vec_id, sub,
         |         v[(sub * (len(v) // 4) + 1):((sub + 1) * (len(v) // 4))] AS sv
         |  FROM ovecs CROSS JOIN subsp),
         |cb AS (SELECT sub, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < 8),
         |d AS (
         |  SELECT a.vec_id, a.sub, cb.cid,
         |         list_dot_product(a.sv, a.sv)
         |           - 2.0 * list_dot_product(a.sv, cb.cv)
         |           + list_dot_product(cb.cv, cb.cv) AS dist2
         |  FROM subs a JOIN cb USING (sub)),
         |ch AS (
         |  SELECT * FROM (
         |    SELECT vec_id, sub, cid, dist2, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY round(dist2, 6), cid) AS rn
         |    FROM d) WHERE rn = 1)
         |SELECT vec_id,
         |  CAST(max(CASE WHEN sub = 0 THEN cid END) AS BIGINT) AS code_0,
         |  CAST(max(CASE WHEN sub = 1 THEN cid END) AS BIGINT) AS code_1,
         |  CAST(max(CASE WHEN sub = 2 THEN cid END) AS BIGINT) AS code_2,
         |  CAST(max(CASE WHEN sub = 3 THEN cid END) AS BIGINT) AS code_3,
         |  CAST(CAST(sum(CAST(round(dist2, 6) AS DECIMAL(18,6)))
         |       AS DECIMAL(38,6)) AS DOUBLE) AS err
         |FROM ch GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "sim_adc_topk" ->
      s"""WITH $ovecsCte,
         |subsp AS (SELECT unnest(generate_series(0, 3)) AS sub),
         |subs AS (
         |  SELECT vec_id, sub,
         |         v[(sub * (len(v) // 4) + 1):((sub + 1) * (len(v) // 4))] AS sv
         |  FROM ovecs CROSS JOIN subsp),
         |cb AS (SELECT sub, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < 8),
         |d AS (
         |  SELECT a.vec_id, a.sub, cb.cid,
         |         list_dot_product(a.sv, a.sv)
         |           - 2.0 * list_dot_product(a.sv, cb.cv)
         |           + list_dot_product(cb.cv, cb.cv) AS dist2
         |  FROM subs a JOIN cb USING (sub)),
         |codes AS (
         |  SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY round(dist2, 6), cid) AS rn
         |    FROM d) WHERE rn = 1),
         |ptab AS (
         |  SELECT p.vec_id AS probe_id, p.sub, cb.cid,
         |         list_dot_product(p.sv, p.sv)
         |           - 2.0 * list_dot_product(p.sv, cb.cv)
         |           + list_dot_product(cb.cv, cb.cv) AS pd2
         |  FROM subs p JOIN cb USING (sub) WHERE p.vec_id < 10),
         |sc AS (
         |  SELECT probe_id, c.vec_id,
         |         CAST(CAST(sum(CAST(round(pd2, 6) AS DECIMAL(18,6)))
         |              AS DECIMAL(38,6)) AS DOUBLE) AS adist
         |  FROM codes c JOIN ptab ON c.sub = ptab.sub AND c.cid = ptab.cid
         |  WHERE ptab.probe_id <> c.vec_id
         |  GROUP BY probe_id, c.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY adist, vec_id) AS rnk FROM sc)
         |SELECT probe_id, vec_id AS neighbor_id, adist,
         |       CAST(rnk AS INTEGER) AS rnk
         |FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    // Trained-cell assignment (kmeansCte + rank-1) rolled up to cell
    // occupancy with share and balance-vs-uniform ratios (double
    // division of exact longs — IEEE-identical on both engines).
    "sim_index_stats" ->
      s"""WITH $ovecsCte,
         |$kmeansCte,
         |di AS (
         |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
         |dir AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
         |cells AS (
         |  SELECT cid AS cell, count(*) AS n_vectors FROM dir
         |  WHERE rn = 1 GROUP BY cid),
         |tot AS (SELECT sum(n_vectors) AS total, count(*) AS n_cells
         |        FROM cells)
         |SELECT cell, n_vectors,
         |       CAST(n_vectors AS DOUBLE) / CAST(total AS DOUBLE) AS share,
         |       CAST(n_vectors AS DOUBLE) * CAST(n_cells AS DOUBLE)
         |         / CAST(total AS DOUBLE) AS balance
         |FROM cells CROSS JOIN tot ORDER BY cell""".stripMargin,

    "pipeline_snapshot_diff" ->
      """WITH olds AS (SELECT doc_id, md5(text) AS h_old FROM documents),
        |news AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' rev2'
        |                  ELSE text END) AS h_new
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 300000 AS doc_id, md5(text) AS h_new
        |  FROM documents WHERE doc_id % 10 = 3)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.h_old IS NULL THEN 'added'
        |            WHEN n.h_new IS NULL THEN 'removed'
        |            WHEN o.h_old = n.h_new THEN 'unchanged'
        |            ELSE 'modified' END AS status
        |FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // The sim_adc_topk chain with depth-20 candidates, exact-cosine
    // re-scored and re-ranked — only candidate rows touch raw vectors.
    "sim_adc_rerank" ->
      s"""WITH $ovecsCte,
         |subsp AS (SELECT unnest(generate_series(0, 3)) AS sub),
         |subs AS (
         |  SELECT vec_id, sub,
         |         v[(sub * (len(v) // 4) + 1):((sub + 1) * (len(v) // 4))] AS sv
         |  FROM ovecs CROSS JOIN subsp),
         |cb AS (SELECT sub, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < 8),
         |d AS (
         |  SELECT a.vec_id, a.sub, cb.cid,
         |         list_dot_product(a.sv, a.sv)
         |           - 2.0 * list_dot_product(a.sv, cb.cv)
         |           + list_dot_product(cb.cv, cb.cv) AS dist2
         |  FROM subs a JOIN cb USING (sub)),
         |codes AS (
         |  SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY round(dist2, 6), cid) AS rn
         |    FROM d) WHERE rn = 1),
         |ptab AS (
         |  SELECT p.vec_id AS probe_id, p.sub, cb.cid,
         |         list_dot_product(p.sv, p.sv)
         |           - 2.0 * list_dot_product(p.sv, cb.cv)
         |           + list_dot_product(cb.cv, cb.cv) AS pd2
         |  FROM subs p JOIN cb USING (sub) WHERE p.vec_id < 10),
         |sc AS (
         |  SELECT probe_id, c.vec_id,
         |         CAST(CAST(sum(CAST(round(pd2, 6) AS DECIMAL(18,6)))
         |              AS DECIMAL(38,6)) AS DOUBLE) AS adist
         |  FROM codes c JOIN ptab ON c.sub = ptab.sub AND c.cid = ptab.cid
         |  WHERE ptab.probe_id <> c.vec_id
         |  GROUP BY probe_id, c.vec_id),
         |rcand AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY adist, vec_id) AS rnk FROM sc)
         |  WHERE rnk <= 20),
         |rescored AS (
         |  SELECT c.probe_id, c.vec_id AS neighbor_id,
         |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
         |  FROM rcand c JOIN ovecs p ON p.vec_id = c.probe_id
         |  JOIN ovecs o ON o.vec_id = c.vec_id),
         |rr AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos_r DESC, neighbor_id) AS rnk
         |  FROM rescored)
         |SELECT probe_id, neighbor_id, cos_r, CAST(rnk AS INTEGER) AS rnk
         |FROM rr WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    // Sequential replay of the full IVF-PQ stack: kmeans-trained cells
    // (kmeansCte → c2), rank-1 corpus indexing + nprobe=2 probe
    // assignment (di/dir), PQ codes over raw vectors (the sim_adc_topk
    // chain), ADC summed only within the probed cells.
    "sim_ivfpq_topk" -> ivfPqSearchSql,

    // The by-residual refine composition's own replay (residual
    // codes, per-cell distance tables, depth-40 exact re-rank).
    "sim_ivfpqr_topk" -> ivfPqrSearchSql,
    // The persisted-index serve makes the IDENTICAL result set by
    // contract (PipelineSpec pins bit-for-bit parity with the
    // in-memory ivfPqrTopK), so it gates against the same replay.
    "sim_ivfpq_persist" -> ivfPqrSearchSql,
    "sim_ivfpq_auto" -> ivfPqrSearchSqlWhere("",
      "SELECT greatest(40, max(cnt)) FROM " +
        "(SELECT count(*) AS cnt FROM idx GROUP BY cell) occ"),
    // Shares the monolithic replay: the quantizer trains on the full
    // corpus, so build-half + append-half serves identically.
    "sim_ivfpq_append" -> ivfPqrSearchSql,
    // Delete leg: same replay, deleted ids masked from the code side.
    "sim_ivfpq_delete" ->
      ivfPqrSearchSqlWhere("WHERE p.vec_id % 7 <> 0"),
    "sim_ivfpq_compact" ->
      ivfPqrSearchSqlWhere("WHERE p.vec_id % 7 <> 0"),
    "sim_ivfpq_filtered" ->
      ivfPqrSearchSqlWhere("WHERE lv.label % 2 = 0"),
    "sim_ivfpq_range" -> ivfPqrRangeSql(0.2),

    "sim_kmeans_step" ->
      s"""WITH $ovecsCte,
         |cents AS (SELECT vec_id AS cid, v AS cv FROM ovecs WHERE vec_id < 8),
         |scored AS (
         |  SELECT o.vec_id, o.v, c.cid, ${cosSql("o.v", "c.cv")} AS cos
         |  FROM ovecs o CROSS JOIN cents c),
         |assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM scored)
         |  WHERE rn = 1),
         |expl AS (
         |  SELECT cid, unnest(range(1, len(v)+1)) AS dim, unnest(v) AS x
         |  FROM assigned)
         |SELECT cid, dim, count(*) AS n,
         |  round(CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS mean_r
         |FROM expl GROUP BY cid, dim ORDER BY cid, dim""".stripMargin,

    "sim_kmeans_train" ->
      s"""WITH $ovecsCte,
         |$kmeansCte
         |SELECT cid, pos AS dim, n, cmean FROM c2 ORDER BY cid, dim""".stripMargin,

    "sim_ivf_kmeans" -> ivfKmeansSearchSql,

    // The persisted-index search makes the IDENTICAL result set by
    // contract (PipelineSpec pins bit-for-bit parity with the
    // in-memory ivfSearchTrained), so it gates against the same replay.
    "sim_ivf_persist" -> ivfKmeansSearchSql,

    // Append path: same stored centroids ⇒ same per-vector cells ⇒
    // the served union equals the monolithic build exactly.
    "sim_ivf_append" -> ivfKmeansSearchSql,

    // Same trained-IVF replay with the tombstoned ids (vec_id % 7 = 0)
    // excluded from the index side; probes untouched.
    "sim_ivf_delete" -> ivfKmeansSearchSqlWhere("AND vec_id % 7 <> 0"),
    "sim_ivf_compact" -> ivfKmeansSearchSqlWhere("AND vec_id % 7 <> 0"),

    // The thresholded (range) tail over the same replay — no window.
    "sim_ivf_range" -> ivfKmeansRangeSql,

    // Index-served hybrid: the lexical leg is rrfFusedCte's, the
    // vector leg is the IVF serve's (probed-cell top-20, nprobe=2),
    // the fusion frame identical — the recall bound the composition
    // inherits from IVF is exactly what this replay encodes.
    "sim_hybrid_indexed" ->
      s"""WITH $ovecsCte,
         |$kmeansCte,
         |dt AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |pt AS (SELECT doc_id AS probe_id, term FROM dt WHERE doc_id < 10),
         |ov AS (
         |  SELECT p.probe_id, d.doc_id, count(*) AS n_shared
         |  FROM pt p JOIN dt d USING (term)
         |  WHERE d.doc_id <> p.probe_id
         |  GROUP BY p.probe_id, d.doc_id),
         |lr0 AS (
         |  SELECT probe_id, doc_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY n_shared DESC, doc_id) AS rank_lex
         |  FROM ov),
         |lr AS (SELECT * FROM lr0 WHERE rank_lex <= 20),
         |di AS (
         |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
         |dirr AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
         |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dirr
         |        WHERE rn = 1),
         |pas AS (SELECT vec_id AS probe_id, cid AS cell FROM dirr
         |        WHERE vec_id < 10 AND rn <= 2),
         |ivsc AS (
         |  SELECT a.probe_id, o.vec_id AS doc_id,
         |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
         |  FROM pas a JOIN ovecs p ON p.vec_id = a.probe_id
         |  JOIN idx i ON i.cell = a.cell
         |  JOIN ovecs o ON o.vec_id = i.corpus_id AND o.vec_id <> a.probe_id),
         |vr0 AS (
         |  SELECT probe_id, doc_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos_r DESC, doc_id) AS rank_vec
         |  FROM ivsc),
         |vr AS (SELECT * FROM vr0 WHERE rank_vec <= 20),
         |fused AS (
         |  SELECT coalesce(l.probe_id, v.probe_id) AS probe_id,
         |         coalesce(l.doc_id, v.doc_id) AS doc_id,
         |         l.rank_lex, v.rank_vec,
         |         round(coalesce(1.0 / CAST(60 + l.rank_lex AS DOUBLE), 0.0) +
         |               coalesce(1.0 / CAST(60 + v.rank_vec AS DOUBLE), 0.0),
         |               6) AS rrf
         |  FROM lr l FULL OUTER JOIN vr v
         |    ON l.probe_id = v.probe_id AND l.doc_id = v.doc_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rnk
         |  FROM fused)
         |SELECT probe_id, doc_id, rank_lex, rank_vec, rrf, rnk
         |FROM ranked WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin,

    // Hybrid with the IVF-BQ vector leg: same lexical half and fusion
    // frame as sim_hybrid_indexed; the vector ranks come from the
    // cell-blocked BQ replay (probed cells → Hamming top-20 →
    // exact-cosine re-rank to depth).
    "sim_hybrid_indexed_bq" ->
      s"""WITH $ovecsCte,
         |$kmeansCte,
         |dt AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |pt AS (SELECT doc_id AS probe_id, term FROM dt WHERE doc_id < 10),
         |ov AS (
         |  SELECT p.probe_id, d.doc_id, count(*) AS n_shared
         |  FROM pt p JOIN dt d USING (term)
         |  WHERE d.doc_id <> p.probe_id
         |  GROUP BY p.probe_id, d.doc_id),
         |lr0 AS (
         |  SELECT probe_id, doc_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY n_shared DESC, doc_id) AS rank_lex
         |  FROM ov),
         |lr AS (SELECT * FROM lr0 WHERE rank_lex <= 20),
         |di AS (
         |  SELECT d.vec_id, c.cid, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM dims d JOIN c2 c USING (pos) GROUP BY d.vec_id, c.cid),
         |dirr AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY round(dist2, 6), cid) AS rn FROM di),
         |idx AS (SELECT vec_id AS corpus_id, cid AS cell FROM dirr
         |        WHERE rn = 1),
         |pas AS (SELECT vec_id AS probe_id, cid AS cell FROM dirr
         |        WHERE vec_id < 10 AND rn <= 2),
         |bcodes AS (SELECT vec_id,
         |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
         |    CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 1))
         |         ELSE 0::BIGINT END)) AS BIGINT) AS code0,
         |  CAST(list_sum(list_transform(generate_series(1, 32), i ->
         |    CASE WHEN v[i + 32] >= 0 THEN (1::BIGINT << (i - 1))
         |         ELSE 0::BIGINT END)) AS BIGINT) AS code1
         |  FROM ovecs),
         |bprobes AS (SELECT vec_id AS probe_id, code0 AS p0, code1 AS p1
         |            FROM bcodes WHERE vec_id < 10),
         |iham AS (SELECT p.probe_id, c.vec_id AS doc_id,
         |           CAST(bit_count(xor(p0, c.code0)) +
         |                bit_count(xor(p1, c.code1)) AS INTEGER) AS ham
         |         FROM pas a
         |         JOIN bprobes p ON p.probe_id = a.probe_id
         |         JOIN idx i ON i.cell = a.cell
         |         JOIN bcodes c ON c.vec_id = i.corpus_id
         |          AND c.vec_id <> p.probe_id),
         |ishort AS (SELECT probe_id, doc_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY ham, doc_id) AS hrnk FROM iham)
         |  WHERE hrnk <= 20),
         |irr AS (SELECT s.probe_id, s.doc_id,
         |          round(${cosSql("p.v", "o.v")}, 6) AS cos_r
         |        FROM ishort s JOIN ovecs p ON p.vec_id = s.probe_id
         |        JOIN ovecs o ON o.vec_id = s.doc_id),
         |vr0 AS (
         |  SELECT probe_id, doc_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos_r DESC, doc_id) AS rank_vec
         |  FROM irr),
         |vr AS (SELECT * FROM vr0 WHERE rank_vec <= 20),
         |fused AS (
         |  SELECT coalesce(l.probe_id, v.probe_id) AS probe_id,
         |         coalesce(l.doc_id, v.doc_id) AS doc_id,
         |         l.rank_lex, v.rank_vec,
         |         round(coalesce(1.0 / CAST(60 + l.rank_lex AS DOUBLE), 0.0) +
         |               coalesce(1.0 / CAST(60 + v.rank_vec AS DOUBLE), 0.0),
         |               6) AS rrf
         |  FROM lr l FULL OUTER JOIN vr v
         |    ON l.probe_id = v.probe_id AND l.doc_id = v.doc_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rnk
         |  FROM fused)
         |SELECT probe_id, doc_id, rank_lex, rank_vec, rrf, rnk
         |FROM ranked WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin,

    // See bqRerankSql: shared by the scan/persist/append twins.
    "sim_bq_rerank" -> bqRerankSql,
    "sim_bq_persist" -> bqRerankSql,
    "sim_bq_append" -> bqRerankSql,
    "sim_bq_delete" -> bqRerankSqlWhere("AND c.vec_id % 7 <> 0"),
    // Compaction serves bit-identically to the mask it replaces.
    "sim_bq_compact" -> bqRerankSqlWhere("AND c.vec_id % 7 <> 0"),
    "sim_bq_filtered" -> bqRerankSqlWhere(
      "AND c.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)"),
    "sim_bq_range" -> bqRangeSql(0.2),
    "sim_recall_ladder" -> recallLadderSql,
    "sim_recall_curve" -> recallCurveSql,
    "sim_ivfbq_persist" -> ivfBqSqlWhere(""),
    "sim_ivfbq_append" -> ivfBqSqlWhere(""),
    "sim_ivfbq_delete" -> ivfBqSqlWhere("AND c.vec_id % 7 <> 0"),
    "sim_ivfbq_compact" -> ivfBqSqlWhere("AND c.vec_id % 7 <> 0"),
    "sim_ivfbq_filtered" -> ivfBqSqlWhere(
      "AND c.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)"),
    "sim_ivfbq_range" -> ivfBqRangeSql(0.2),

    // SQ8 layout: the quantized-MIPS replay (same trained cells and
    // probe set; scoring over per-vector-scaled int8 codes).
    "sim_sq8_persist" -> ivfSq8SearchSqlWhere(""),
    // Per-vector scale + stored-centroid assignment ⇒ build-half +
    // append-half is bit-identical to the monolithic build.
    "sim_sq8_append" -> ivfSq8SearchSqlWhere(""),
    "sim_sq8_range" -> ivfSq8RangeSql,
    // Tombstoned ids excluded from the index side; probes untouched.
    "sim_sq8_delete" -> ivfSq8SearchSqlWhere("AND vec_id % 7 <> 0"),
    "sim_sq8_compact" -> ivfSq8SearchSqlWhere("AND vec_id % 7 <> 0"),
    "sim_sq8_filtered" -> ivfSq8SearchSqlWhere(
      "AND vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)"),

    // Same replay with the index side restricted to even-label vectors
    // (the metadata filter); probes untouched.
    "sim_ivf_filtered" -> ivfKmeansSearchSqlWhere(
      "AND vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)"),

    "sim_range_search" ->
      s"""WITH $ovecsCte,
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM ovecs WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, o.vec_id AS neighbor_id,
         |         round(${cosSql("pv", "o.v")}, 6) AS cos_r
         |  FROM probes, ovecs o WHERE probe_id <> o.vec_id)
         |SELECT probe_id, neighbor_id, cos_r FROM scored
         |WHERE cos_r >= 0.2 ORDER BY probe_id, neighbor_id""".stripMargin,

    "sim_topk_bruteforce" ->
      s"""WITH $ovecsCte,
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM ovecs WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, o.vec_id AS neighbor_id,
         |         round(${cosSql("pv", "o.v")}, 6) AS cos_r
         |  FROM probes, ovecs o WHERE probe_id <> o.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos_r DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, cos_r, rnk FROM ranked
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    "sim_topk_aggregator" ->
      s"""WITH $ovecsCte,
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM ovecs WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, o.vec_id AS neighbor_id,
         |         round(${cosSql("pv", "o.v")}, 6) AS cos_r
         |  FROM probes, ovecs o WHERE probe_id <> o.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos_r DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, cos_r, rnk FROM ranked
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    "sim_ivf_topk" ->
      s"""WITH vecsl AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |dims AS (
         |  SELECT vec_id, label, unnest(v) AS x,
         |         unnest(generate_series(1, len(v))) AS pos
         |  FROM vecsl),
         |cents AS (
         |  SELECT label, pos, avg(x) AS cmean FROM dims GROUP BY label, pos),
         |probes AS (
         |  SELECT vec_id AS probe_id, v AS pv FROM vecsl WHERE vec_id < 15),
         |pdims AS (
         |  SELECT vec_id AS probe_id, x, pos FROM dims WHERE vec_id < 15),
         |d2 AS (
         |  SELECT probe_id, label, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM pdims JOIN cents USING (pos) GROUP BY probe_id, label),
         |assigned AS (
         |  SELECT probe_id, label AS assigned_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY round(dist2, 6), label) AS rn FROM d2)
         |  WHERE rn = 1),
         |scored AS (
         |  SELECT a.probe_id, a.assigned_label, o.vec_id AS neighbor_id,
         |         round(${cosSql("p.pv", "o.v")}, 6) AS cos_r
         |  FROM assigned a JOIN probes p USING (probe_id)
         |  JOIN vecsl o ON o.label = a.assigned_label AND o.vec_id <> a.probe_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM scored)
         |SELECT probe_id, assigned_label, neighbor_id, cos_r, rnk
         |FROM ranked WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    "sim_ivf_nprobe" ->
      s"""WITH vecsl AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |dims AS (
         |  SELECT vec_id, label, unnest(v) AS x,
         |         unnest(generate_series(1, len(v))) AS pos
         |  FROM vecsl),
         |cents AS (
         |  SELECT label, pos, avg(x) AS cmean FROM dims GROUP BY label, pos),
         |probes AS (
         |  SELECT vec_id AS probe_id, v AS pv FROM vecsl WHERE vec_id < 15),
         |pdims AS (
         |  SELECT vec_id AS probe_id, x, pos FROM dims WHERE vec_id < 15),
         |d2 AS (
         |  SELECT probe_id, label, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM pdims JOIN cents USING (pos) GROUP BY probe_id, label),
         |assigned AS (
         |  SELECT probe_id, label AS assigned_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY round(dist2, 6), label) AS rn FROM d2)
         |  WHERE rn <= 2),
         |scored AS (
         |  SELECT a.probe_id, a.assigned_label, o.vec_id AS neighbor_id,
         |         round(${cosSql("p.pv", "o.v")}, 6) AS cos_r
         |  FROM assigned a JOIN probes p USING (probe_id)
         |  JOIN vecsl o ON o.label = a.assigned_label AND o.vec_id <> a.probe_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM scored)
         |SELECT probe_id, assigned_label, neighbor_id, cos_r, rnk
         |FROM ranked WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    // IMI replay: per-half label-mean codebooks, rounded half-L2² with
    // clabel tie-break, corpus indexed in its rank-1 (c0, c1) pair,
    // probes ranked over all pairs by r0+r1 with (l0, l1) tie-break —
    // the Scala side's exact determinism contract. Shared by the
    // in-memory serve and the persisted/append legs (stored codebooks
    // round-trip parquet exactly); the delete leg injects its
    // tombstone predicate into the index CTE.
    "sim_imi_topk" -> imiSearchSqlWhere(""),
    "sim_imipq_topk" -> imiPqSearchSql,
    "sim_imipq_persist" -> imiPqSearchSql,
    "sim_imipq_append" -> imiPqSearchSql,
    "sim_imipq_delete" -> imiPqSearchSqlWhere("WHERE vec_id % 7 <> 0"),
    "sim_imipq_compact" -> imiPqSearchSqlWhere("WHERE vec_id % 7 <> 0"),
    "sim_imipq_filtered" -> imiPqSearchSqlWhere("WHERE lv.label % 2 = 0"),
    "sim_imipq_range" -> imiPqRangeSql(0.2),
    "sim_imipq_auto" -> imiPqSearchSqlWhere("",
      "SELECT greatest(40, max(cnt)) FROM " +
        "(SELECT count(*) AS cnt FROM idx GROUP BY c0, c1) occ"),
    "sim_imi_persist" -> imiSearchSqlWhere(""),
    "sim_imi_append" -> imiSearchSqlWhere(""),
    "sim_imi_delete" -> imiSearchSqlWhere("AND vec_id % 7 <> 0"),
    "sim_imi_compact" -> imiSearchSqlWhere("AND vec_id % 7 <> 0"),
    "sim_imi_kmeans" -> imiKmeansSearchSql,
    // Pair-occupancy stats: the label-codebook cell chain + exact
    // integer counts; share/balance are IEEE divisions of exact ints.
    "sim_imi_stats" ->
      s"""WITH vecsl AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |dims0 AS (
         |  SELECT vec_id, label, len(v) // 2 AS hf, unnest(v) AS x,
         |         unnest(generate_series(1, len(v))) AS pos
         |  FROM vecsl),
         |sdims AS (
         |  SELECT vec_id, label, x, pos,
         |         CASE WHEN pos <= hf THEN 0 ELSE 1 END AS sub
         |  FROM dims0),
         |cents AS (
         |  SELECT sub, label AS clabel, pos, avg(x) AS cmean
         |  FROM sdims GROUP BY sub, label, pos),
         |d2 AS (
         |  SELECT s.vec_id, s.sub, c.clabel,
         |         round(sum((s.x - c.cmean) * (s.x - c.cmean)), 6) AS d2r
         |  FROM sdims s JOIN cents c ON c.sub = s.sub AND c.pos = s.pos
         |  GROUP BY s.vec_id, s.sub, c.clabel),
         |best AS (
         |  SELECT vec_id, sub, clabel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2r, clabel) AS rn FROM d2)
         |  WHERE rn = 1),
         |idx AS (
         |  SELECT b0.vec_id, b0.clabel AS c0, b1.clabel AS c1
         |  FROM best b0 JOIN best b1 USING (vec_id)
         |  WHERE b0.sub = 0 AND b1.sub = 1),
         |occ AS (SELECT c0, c1, count(*) AS n_vectors FROM idx
         |        GROUP BY c0, c1),
         |tot AS (SELECT sum(n_vectors) AS total,
         |               count(*) AS n_pairs FROM occ)
         |SELECT c0, c1, CAST(n_vectors AS BIGINT) AS n_vectors,
         |  CAST(n_vectors AS DOUBLE) / CAST(total AS DOUBLE) AS share,
         |  CAST(n_vectors AS DOUBLE) * CAST(n_pairs AS DOUBLE)
         |    / CAST(total AS DOUBLE) AS balance
         |FROM occ CROSS JOIN tot ORDER BY c0, c1""".stripMargin,
    "sim_imi_curve" -> imiCurveSql,
    "sim_imi_curve_clustered" -> imiCurveClusteredSql,
    "sim_imi_curve_external" -> imiCurveExternalSql,
    "sim_imi_filtered" -> imiSearchSqlWhere(
      "AND vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)"),
    "sim_imi_range" -> imiRangeSql(0.2),

    "sim_knn_join" ->
      s"""WITH vecsl AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |dims AS (
         |  SELECT vec_id, label, unnest(v) AS x,
         |         unnest(generate_series(1, len(v))) AS pos
         |  FROM vecsl),
         |cents AS (
         |  SELECT label, pos, avg(x) AS cmean FROM dims GROUP BY label, pos),
         |d2 AS (
         |  SELECT d.vec_id AS probe_id, c.label, sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM dims d JOIN cents c USING (pos) GROUP BY d.vec_id, c.label),
         |assigned AS (
         |  SELECT probe_id, label AS assigned_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY round(dist2, 6), label) AS rn FROM d2)
         |  WHERE rn <= 2),
         |scored AS (
         |  SELECT a.probe_id, o.vec_id AS neighbor_id,
         |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
         |  FROM assigned a JOIN vecsl p ON p.vec_id = a.probe_id
         |  JOIN vecsl o ON o.label = a.assigned_label AND o.vec_id <> a.probe_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM scored)
         |SELECT probe_id, neighbor_id, cos_r, rnk
         |FROM ranked WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    "sim_knn_join_indexed" -> knnJoinIndexedOracle,

    // The persisted-assignment serve is bit-identical to the in-memory
    // indexed join (all-integer assignment table, parquet-exact).
    "sim_knn_join_persist" -> knnJoinIndexedOracle,

    // Deleted ids (vec_id % 6 = 0) excluded from both participant
    // roles; centroids stay full-corpus (stored assignments fixed).
    "sim_knn_join_delete" -> knnJoinIndexedOracleWhere(
      "AND probe_id % 6 <> 0"),

    "sim_lsh_topk" -> {
      def bucket(v: String) = (1 to 4).map(i =>
        s"(CASE WHEN $v[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH $ovecsCte,
         |bucketed AS (
         |  SELECT vec_id, v, ${bucket("v")} AS bucket FROM ovecs),
         |probes AS (
         |  SELECT vec_id AS probe_id, v AS pv, bucket FROM bucketed WHERE vec_id < 20),
         |scored AS (
         |  SELECT probe_id, o.vec_id AS neighbor_id,
         |         round(${cosSql("pv", "o.v")}, 6) AS cos_r
         |  FROM probes p JOIN bucketed o ON p.bucket = o.bucket
         |  WHERE p.probe_id <> o.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos_r DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, cos_r, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin
    },

    "pipeline_quality_dedup" ->
      s"""WITH $corpusCte,
         |q AS (
         |  SELECT doc_id,
         |    least(1.0, CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) / 100.0) * 0.5 +
         |    least(1.0, CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is|it)\\b')) AS DOUBLE) /
         |               CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) * 4.0) * 0.5
         |      AS quality_score
         |  FROM corpus),
         |kept AS (
         |  SELECT c.doc_id, c.text FROM corpus c JOIN q USING (doc_id)
         |  WHERE quality_score >= 0.5)
         |SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
         |       md5(text) AS text_hash
         |FROM kept GROUP BY text ORDER BY keep_id""".stripMargin,

    "pipeline_end_to_end" ->
      s"""WITH $corpusCte,
         |q AS (
         |  SELECT doc_id,
         |    least(1.0, CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) / 100.0) * 0.5 +
         |    least(1.0, CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is|it)\\b')) AS DOUBLE) /
         |               CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) * 4.0) * 0.5
         |      AS quality_score
         |  FROM corpus),
         |kept AS (
         |  SELECT c.doc_id, c.text FROM corpus c JOIN q USING (doc_id)
         |  WHERE quality_score >= 0.5),
         |reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
         |surv AS (SELECT k.doc_id, k.text FROM kept k JOIN reps USING (doc_id)),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM surv),
         |st AS (SELECT doc_id, w,
         |         unnest(generate_series(1, len(w), 48)) AS start
         |       FROM t)
         |SELECT doc_id,
         |  CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
         |  CAST(start AS BIGINT) AS start_tok,
         |  CAST(least(len(w) - start + 1, 64) AS BIGINT) AS n_tok,
         |  array_to_string(w[start:start+63], ' ') AS chunk_text
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct,
        |  CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) /
        |    CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) /
        |    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS stop_ratio,
        |  least(1.0, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0) * 0.5 +
        |        least(1.0, CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) /
        |                   CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) * 4.0) * 0.5
        |    AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Integer-only rule replay: every threshold is the same
    // cross-multiplication the Spark side evaluates — no float, no
    // rounding surface.
    "text_gopher_rules" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |                  replace(text, ' ', '') AS ns FROM documents),
        |c AS (SELECT doc_id,
        |        CAST(len(ws) AS BIGINT) AS n_words,
        |        CAST(len(ns) AS BIGINT) AS len_nospace,
        |        CAST(list_max(list_transform(list_distinct(ws),
        |          w2 -> len(list_filter(ws, x -> x = w2)))) AS BIGINT)
        |          AS max_wc,
        |        CAST(len(list_filter(ws, x -> len(x) <= 2)) AS BIGINT)
        |          AS n_short,
        |        CAST((CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0
        |          END) + (CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0
        |          END) AS BIGINT) AS n_stop
        |      FROM w),
        |r AS (SELECT doc_id, n_words, len_nospace, max_wc, n_short,
        |        n_stop,
        |        CASE WHEN n_words BETWEEN 20 AND 80 THEN 1 ELSE 0 END
        |          AS r_wc,
        |        CASE WHEN 44 * n_words <= 10 * len_nospace
        |             AND 10 * len_nospace <= 47 * n_words THEN 1 ELSE 0
        |          END AS r_mean,
        |        CASE WHEN 10 * max_wc <= n_words THEN 1 ELSE 0 END
        |          AS r_rep,
        |        CASE WHEN 12 * n_short <= n_words THEN 1 ELSE 0 END
        |          AS r_short,
        |        CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
        |      FROM c)
        |SELECT *, CAST(r_wc + r_mean + r_rep + r_short + r_stop
        |    AS BIGINT) AS n_pass,
        |  CASE WHEN r_wc + r_mean + r_rep + r_short + r_stop = 5
        |    THEN 1 ELSE 0 END AS pass_all
        |FROM r ORDER BY doc_id""".stripMargin,

    "text_spell_candidates" -> spellSql,
    // Bit-identical persisted-layout twin (see the query comment).
    "text_spell_serve" -> spellSql,
    // Append ≡ monolithic (keys dedup, freqs sum) — same replay.
    "text_spell_append" -> spellSql,
    // Index-side vocabulary filter = rebuild without the words.
    "text_spell_delete" -> spellSqlWhere("WHERE len(w) < 8"),

    "text_quality_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wc AS (
        |  SELECT doc_id, word, count(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS word FROM w)
        |  GROUP BY doc_id, word),
        |ws AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_word_frac
        |  FROM wc GROUP BY doc_id),
        |gc AS (
        |  SELECT doc_id, bigram, count(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(w)),
        |                                i -> w[i] || ' ' || w[i + 1])) AS bigram
        |        FROM w WHERE len(w) >= 2)
        |  GROUP BY doc_id, bigram),
        |gs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) /
        |          CAST(sum(c) AS DOUBLE) AS dup_bigram_frac
        |  FROM gc GROUP BY doc_id)
        |SELECT ws.doc_id, ws.n_words, ws.top_word_frac,
        |  COALESCE(gs.dup_bigram_frac, 0.0) AS dup_bigram_frac,
        |  (ws.top_word_frac <= 0.20 AND COALESCE(gs.dup_bigram_frac, 0.0) <= 0.40) AS keep
        |FROM ws LEFT JOIN gs ON ws.doc_id = gs.doc_id
        |ORDER BY ws.doc_id""".stripMargin,

    // Literal arithmetic is spelled out ((1.2 + 1.0), (1.0 - 0.75)) so
    // DuckDB performs the same IEEE operations Spark's plan constants
    // came from; per-term weights round to 6 dp and sum as DECIMAL so
    // the double-summation order can't drift between engines.
    "text_bm25" -> bm25Sql,

    // The index-serving twins produce the IDENTICAL result set by
    // contract (PipelineSpec pins bit-for-bit parity with the
    // corpus-scan bm25; a sharded serve re-aggregates integer df/stats
    // exactly), so both gate against the same replay.
    "text_bm25_serve" -> bm25Sql,
    "text_bm25_shards" -> bm25Sql,

    // Tombstoned docs excluded — scores equal a rebuild without them
    // (idf and avgdl re-derive from the adjusted stats).
    "text_bm25_delete" -> bm25SqlWhere("WHERE doc_id % 5 <> 0"),

    // Positional-leg intersection replay (phraseSearchSql): the
    // index-served twin is bit-identical to the corpus-side
    // intersection by contract (positions round-trip as sorted longs),
    // so both gate against the same replay.
    "text_phrase_search" -> phraseSearchSql,
    "text_phrase_serve" -> phraseSearchSql,

    "text_top_ngrams" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(w)),
        |                               i -> w[i] || ' ' || w[i + 1])) AS gram
        |  FROM w WHERE len(w) >= 2)
        |SELECT gram, count(*) AS n_occurrences,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM g GROUP BY gram
        |ORDER BY n_occurrences DESC, gram LIMIT 50""".stripMargin,

    "text_boilerplate" ->
      """WITH wrd AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |idx AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM wrd),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |         md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS gh
        |  FROM idx),
        |df AS (SELECT gh, count(*) AS df FROM g GROUP BY gh),
        |tot AS (SELECT count(*) AS n_docs FROM documents),
        |fl AS (
        |  SELECT gh, CAST(df AS DOUBLE) > CAST(n_docs AS DOUBLE) * 0.3 AS is_boiler
        |  FROM df CROSS JOIN tot),
        |per AS (
        |  SELECT g.doc_id, count(*) AS n_grams,
        |         CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        |  FROM g JOIN fl USING (gh) GROUP BY g.doc_id)
        |SELECT doc_id, n_grams, n_boiler,
        |       CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE) AS boiler_frac,
        |       CAST(n_boiler AS DOUBLE) < CAST(n_grams AS DOUBLE) * 0.5 AS keep
        |FROM per ORDER BY doc_id""".stripMargin,

    "text_trigram_entropy" ->
      """WITH i AS (
        |  SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |  FROM documents WHERE length(text) >= 3),
        |h AS (
        |  SELECT doc_id, substr(text, i, 3) AS gram, count(*) AS c
        |  FROM i GROUP BY doc_id, gram),
        |t AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |         count(*) AS n_distinct,
        |         sum(CAST(round(
        |           CAST(c AS DOUBLE) * (ln(CAST(c AS DOUBLE)) / ln(2.0)),
        |           6) AS DECIMAL(18,6))) AS s
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_distinct,
        |       ln(CAST(n_grams AS DOUBLE)) / ln(2.0)
        |         - CAST(s AS DOUBLE) / CAST(n_grams AS DOUBLE) AS entropy_bits
        |FROM t ORDER BY doc_id""".stripMargin,

    // Fixed-point micro-unit terms (floor(x*1e6 + 0.5) — exact IEEE
    // floor, no round()/decimal version surface), BIGINT sums, raw
    // IEEE int-ratio mean — the same pattern as text_dsir_weights.
    "text_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS vocab
        |        FROM counts)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |       CAST(sum(CAST(floor(
        |         ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + vocab AS DOUBLE))
        |         * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS avg_logprob_micro
        |FROM toks JOIN counts USING (tok) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Multinomial NB replay (model + scoring chain shared across the
    // three nb rows via nbModelCtes/nbScoreTail — one text so the
    // smoothing/quantization contract cannot diverge); argmax
    // tie-breaks label-ascending in both engines.
    "text_nb_classify" ->
      s"""WITH $nbModelCtes,
        |${nbScoreTail("toks")}
        |SELECT r.doc_id, d.label AS actual, r.label AS pred,
        |       r.score_micro
        |FROM ranked r JOIN docs d USING (doc_id)
        |WHERE r.rnk = 1 ORDER BY r.doc_id""".stripMargin,

    // Persisted-model serve replay: the SAME trained model (counts are
    // additive, so write-even + append-odd ≡ train-on-all) scoring the
    // OOV-augmented incoming — each doc's xq<doc_id> token never
    // matches cwc, so its term is the smoothing floor ln(1/(c_l+v)).
    "text_nb_serve" ->
      s"""WITH $nbModelCtes,
        |incoming AS (SELECT doc_id,
        |    text || ' xq' || CAST(doc_id AS VARCHAR) AS text FROM docs),
        |itoks AS (SELECT doc_id,
        |            unnest(string_split(text, ' ')) AS tok FROM incoming),
        |${nbScoreTail("itoks")}
        |SELECT doc_id, label AS pred, score_micro
        |FROM ranked WHERE rnk = 1 ORDER BY doc_id""".stripMargin,

    // Compacted-model serve replay: compaction is a pure per-key
    // count fold (write-even + append-odd + compact ≡ train-on-all),
    // so the oracle is the monolithic NB scoring the plain corpus —
    // same model CTEs as text_nb_classify, plain-text incoming.
    "text_nb_compact" ->
      s"""WITH $nbModelCtes,
        |${nbScoreTail("toks")}
        |SELECT doc_id, label AS pred, score_micro
        |FROM ranked WHERE rnk = 1 ORDER BY doc_id""".stripMargin,

    // Batch-retraction replay: the model CTEs train WITHOUT the
    // deleted batch's documents (doc_id % 4 == 3) — dropping the
    // partition must equal this retrain exactly — while the incoming
    // side scores the FULL corpus.
    "text_nb_delete" ->
      s"""WITH ${nbModelCtesWhere(" WHERE doc_id % 4 <> 3")},
        |incoming AS (SELECT doc_id, text FROM documents),
        |itoks AS (SELECT doc_id,
        |            unnest(string_split(text, ' ')) AS tok FROM incoming),
        |${nbScoreTail("itoks")}
        |SELECT doc_id, label AS pred, score_micro
        |FROM ranked WHERE rnk = 1 ORDER BY doc_id""".stripMargin,

    // Three unrolled BPE rounds (CTE prelude shared with
    // text_bpe_apply — see bpeRoundsCtes above the map).
    "text_bpe_train" ->
      s"""WITH $bpeRoundsCtes
         |SELECT 1 AS round, a, b, cnt FROM b1
         |UNION ALL SELECT 2, a, b, cnt FROM b2
         |UNION ALL SELECT 3, a, b, cnt FROM b3
         |ORDER BY round""".stripMargin,

    // Apply side: the final symbol table s4 IS the word→tokens map;
    // tokenize = join each doc's positioned words against it and
    // reassemble in order.
    "text_bpe_apply" ->
      s"""WITH $bpeRoundsCtes,
         |wt AS (SELECT word, string_agg(sym, ' ' ORDER BY pos) AS wtoks,
         |         CAST(count(*) AS INTEGER) AS ntoks
         |       FROM s4 GROUP BY word),
         |dw AS (SELECT doc_id, i, w[i] AS word
         |       FROM (SELECT doc_id, string_split(text, ' ') AS w,
         |               unnest(generate_series(1,
         |                 len(string_split(text, ' ')))) AS i
         |             FROM documents)
         |       WHERE length(w[i]) > 0)
         |SELECT doc_id, CAST(sum(ntoks) AS INTEGER) AS n_tokens,
         |       string_agg(wtoks, ' ' ORDER BY i) AS tokens
         |FROM dw JOIN wt USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Serve side: same final symbol table s4 as the stored vocab
    // (parquet round-trips strings exactly); the incoming corpus adds
    // one OOV word per doc, which the LEFT join + character fallback
    // must tokenize to its chars.
    "text_bpe_serve" ->
      s"""WITH $bpeRoundsCtes,
         |wt AS (SELECT word, string_agg(sym, ' ' ORDER BY pos) AS wtoks,
         |         CAST(count(*) AS INTEGER) AS ntoks
         |       FROM s4 GROUP BY word),
         |incoming AS (SELECT doc_id,
         |    text || ' xq' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents),
         |dw AS (SELECT doc_id, i, w[i] AS word
         |       FROM (SELECT doc_id, string_split(text, ' ') AS w,
         |               unnest(generate_series(1,
         |                 len(string_split(text, ' ')))) AS i
         |             FROM incoming)
         |       WHERE length(w[i]) > 0),
         |fb AS (SELECT doc_id, i,
         |         coalesce(wtoks, array_to_string(list_transform(
         |           generate_series(1, length(word)),
         |           j -> substr(word, j, 1)), ' ')) AS wtoks,
         |         coalesce(ntoks, CAST(length(word) AS INTEGER)) AS ntoks
         |       FROM dw LEFT JOIN wt USING (word))
         |SELECT doc_id, CAST(sum(ntoks) AS INTEGER) AS n_tokens,
         |       string_agg(wtoks, ' ' ORDER BY i) AS tokens
         |FROM fb
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_bigram_logprob" ->
      """WITH wrd AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, w[i] AS a, w[i+1] AS b
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(1, len(w) - 1)) AS i FROM wrd)),
        |cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b),
        |ca AS (SELECT a, count(*) AS c_a FROM bg GROUP BY a),
        |voc AS (
        |  SELECT count(DISTINCT tok) AS v FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(CAST(floor(
        |         ln(CAST(c_ab + 1 AS DOUBLE) / CAST(c_a + v AS DOUBLE))
        |         * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS avg_logprob_micro
        |FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN voc
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same LM derivation as text_unigram_logprob, bucketed ntile(10)
    // per source over the identical total order.
    "text_quality_deciles" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS vocab
        |        FROM counts),
        |lp AS (
        |  SELECT doc_id,
        |         CAST(sum(CAST(floor(
        |           ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + vocab AS DOUBLE))
        |           * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS avg_logprob_micro
        |  FROM toks JOIN counts USING (tok) CROSS JOIN tot
        |  GROUP BY doc_id),
        |ranked AS (
        |  SELECT d.source, lp.avg_logprob_micro,
        |         ntile(10) OVER (PARTITION BY d.source
        |                         ORDER BY lp.avg_logprob_micro, d.doc_id) AS decile
        |  FROM documents d JOIN lp ON d.doc_id = lp.doc_id)
        |SELECT source, decile, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(avg_logprob_micro) AS min_lp, max(avg_logprob_micro) AS max_lp
        |FROM ranked GROUP BY source, decile
        |ORDER BY source, decile""".stripMargin,

    // Mirrors dsirWeights exactly: same smoothing, same fixed-point
    // micro-unit terms via floor(x*1e6 + 0.5) — floor on a double is
    // exact IEEE in every engine version, where round()/decimal-cast
    // half-way semantics are not (the round-7 driver-red surface).
    // Integer sums cast BIGINT (DuckDB widens to HUGEINT); the mean is
    // a raw IEEE int-ratio division, never rounded.
    "text_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |counts AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cs,
        |         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS ct
        |  FROM toks GROUP BY tok),
        |tot AS (
        |  SELECT CAST(sum(cs) AS BIGINT) AS ns, CAST(sum(ct) AS BIGINT) AS nt,
        |         CAST(count(*) AS BIGINT) AS vocab
        |  FROM counts),
        |terms AS (
        |  SELECT tok,
        |         CAST(floor(ln((CAST(ct + 1 AS DOUBLE) / CAST(nt + vocab AS DOUBLE)) /
        |                       (CAST(cs + 1 AS DOUBLE) / CAST(ns + vocab AS DOUBLE)))
        |                    * 1000000.0 + 0.5) AS BIGINT) AS term_micro
        |  FROM counts CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |       CAST(sum(term_micro) AS BIGINT) AS log_weight_micro,
        |       CAST(sum(term_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         AS avg_term_micro
        |FROM toks JOIN terms USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same candidate pair set as dedup_lsh_v2, exploded to node
    // degrees, zero-degree docs kept via the corpus left join.
    "dedup_degree_dist" ->
      s"""WITH $corpusCte,
         |$shinglesCte,
         |$lshV2CandCte,
         |ends AS (
         |  SELECT id_a AS doc_id FROM cand
         |  UNION ALL SELECT id_b AS doc_id FROM cand),
         |deg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
         |  FROM ends GROUP BY doc_id),
         |alldeg AS (
         |  SELECT coalesce(d.degree, 0) AS degree
         |  FROM corpus c LEFT JOIN deg d ON c.doc_id = d.doc_id)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
         |FROM alldeg GROUP BY degree ORDER BY degree""".stripMargin,

    // Same duplicate graph as dedup_components, rolled up to the
    // cluster-size histogram.
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $corpusCte,
         |$shinglesCte,
         |$lshV2CandCte,
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM cand
         |  UNION SELECT id_b AS u, id_a AS v FROM cand),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |lab AS (
         |  SELECT c.doc_id, coalesce(p.component, c.doc_id) AS component
         |  FROM corpus c LEFT JOIN comp p ON c.doc_id = p.doc_id),
         |sizes AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM lab GROUP BY component)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "pipeline_drift_psi" ->
      """WITH b AS (
        |  SELECT source, least(9, CAST(n_chars AS BIGINT) // 200) AS bin
        |  FROM documents WHERE n_chars IS NOT NULL),
        |ps AS (SELECT source, bin, count(*) AS c FROM b GROUP BY source, bin),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM ps GROUP BY source),
        |gb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS gc FROM ps GROUP BY bin),
        |gtot AS (SELECT CAST(sum(gc) AS BIGINT) AS gt FROM gb),
        |dense AS (SELECT source, tot, unnest(range(0, 10)) AS bin FROM st),
        |j AS (SELECT d.source, d.tot, d.bin,
        |             coalesce(ps.c, 0) AS c, coalesce(gb.gc, 0) AS gc
        |      FROM dense d
        |      LEFT JOIN ps ON ps.source = d.source AND ps.bin = d.bin
        |      LEFT JOIN gb ON gb.bin = d.bin),
        |t AS (SELECT source, tot,
        |        CAST(round((CAST(c + 1 AS DOUBLE) / (tot + 10) -
        |                    CAST(gc + 1 AS DOUBLE) / (gt + 10)) *
        |          ln((CAST(c + 1 AS DOUBLE) / (tot + 10)) /
        |             (CAST(gc + 1 AS DOUBLE) / (gt + 10))), 6)
        |          AS DECIMAL(18,6)) AS term
        |      FROM j CROSS JOIN gtot)
        |SELECT source, CAST(max(tot) AS BIGINT) AS n_docs,
        |       CAST(sum(term) AS DOUBLE) AS psi
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "pipeline_epoch_shuffle" ->
      """WITH e AS (
        |  SELECT doc_id, unnest([0, 1]) AS epoch FROM documents),
        |h AS (
        |  SELECT doc_id, epoch,
        |         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM e),
        |s AS (
        |  SELECT doc_id, epoch,
        |         CAST(('0x' || substr(h, 1, 3)) AS INTEGER) % 8 AS shard, h
        |  FROM h)
        |SELECT doc_id, epoch, shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY epoch, shard ORDER BY h, doc_id) AS INTEGER) AS pos
        |FROM s ORDER BY epoch, shard, pos""".stripMargin,

    "text_tokenize_bpe" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]'))
        |    AS BIGINT) AS n_bpeish,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]'))
        |    AS DOUBLE) / len(string_split(text, ' ')) AS fertility
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pipeline_length_filter" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, n_words,
        |         percent_rank() OVER (PARTITION BY source ORDER BY n_words) AS pr
        |  FROM t)
        |SELECT doc_id, source, n_words, pr AS pr_r,
        |       pr >= 0.1 AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    "dedup_incremental" -> lshIncrementalOracle,

    // The persisted-index serve is bit-identical to the live
    // incremental pairs (string buckets + BIGINT ids, parquet-exact).
    "dedup_lsh_persist" -> lshIncrementalOracle,
    // Shares the monolithic replay: index rows are per-doc, so
    // build-half + append-half equals the one-shot build.
    "dedup_lsh_append" -> lshIncrementalOracle,

    // Deleted base docs (doc_id % 5 = 0) can no longer pair.
    "dedup_lsh_delete" -> lshIncrementalOracleWhere(
      "AND b.doc_id % 5 <> 0"),

    "text_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w,
        |             len(coalesce(text, '')) = 0 AS empty
        |           FROM documents),
        |s AS (SELECT doc_id, w, empty,
        |        unnest(generate_series(1, len(w), 48)) AS start
        |      FROM t)
        |SELECT doc_id,
        |  CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
        |  CAST(start AS BIGINT) AS start_tok,
        |  CAST(CASE WHEN empty THEN 0
        |            ELSE least(len(w) - start + 1, 64) END AS BIGINT) AS n_tok,
        |  array_to_string(w[start:start+63], ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    "pipeline_key_skew" ->
      """WITH c AS (
        |  SELECT l_suppkey AS key, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |s AS (
        |  SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total
        |  FROM c)
        |SELECT key, cnt,
        |  CAST(cnt * n_keys AS DOUBLE) / total AS skew_ratio
        |FROM c, s
        |ORDER BY cnt DESC, key LIMIT 20""".stripMargin,

    "pipeline_dataset_card" ->
      """SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
        |  max(n_chars) AS max_chars,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS en_share
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "dedup_bloom_prefilter" ->
      s"""WITH $corpusCte,
         |inc AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 100000)
         |SELECT inc.doc_id, md5(inc.text) AS text_hash FROM inc
         |WHERE NOT EXISTS (SELECT 1 FROM documents h WHERE h.text = inc.text)
         |ORDER BY inc.doc_id""".stripMargin,

    // Sharded build is an internal detail — the contract is the plain
    // anti-join, identical to dedup_bloom_prefilter's.
    "dedup_bloom_sharded" ->
      s"""WITH $corpusCte,
         |inc AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 100000)
         |SELECT inc.doc_id, md5(inc.text) AS text_hash FROM inc
         |WHERE NOT EXISTS (SELECT 1 FROM documents h WHERE h.text = inc.text)
         |ORDER BY inc.doc_id""".stripMargin,

    // The persisted and appended filter tables serve the same exact
    // contract (FP anti-join at serve; OR-merge ≡ union build).
    "dedup_bloom_persist" ->
      s"""WITH $corpusCte,
         |inc AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 100000)
         |SELECT inc.doc_id, md5(inc.text) AS text_hash FROM inc
         |WHERE NOT EXISTS (SELECT 1 FROM documents h WHERE h.text = inc.text)
         |ORDER BY inc.doc_id""".stripMargin,
    "dedup_bloom_append" ->
      s"""WITH $corpusCte,
         |inc AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 100000)
         |SELECT inc.doc_id, md5(inc.text) AS text_hash FROM inc
         |WHERE NOT EXISTS (SELECT 1 FROM documents h WHERE h.text = inc.text)
         |ORDER BY inc.doc_id""".stripMargin,

    "pipeline_curriculum" ->
      """WITH q AS (
        |  SELECT doc_id, source, n_chars,
        |    least(1.0, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0) * 0.5 +
        |    least(1.0, CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) /
        |               CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) * 4.0) * 0.5
        |      AS quality_score
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(ntile(10) OVER (PARTITION BY source
        |      ORDER BY quality_score DESC, doc_id) AS BIGINT) AS decile
        |  FROM q)
        |SELECT doc_id, source, decile,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY decile, n_chars, doc_id) AS BIGINT) AS curriculum_rank
        |FROM d ORDER BY source, curriculum_rank""".stripMargin,

    "pipeline_shard_assign" -> {
      val vals = Sampling.ringPositions(4)
        .map { case (p, s) => s"('$p', $s)" }.mkString(", ")
      s"""WITH ring(pos, shard) AS (VALUES $vals),
         |k AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key_hash
         |  FROM documents)
         |SELECT doc_id, key_hash,
         |  COALESCE(
         |    (SELECT shard FROM ring WHERE pos >= key_hash
         |     ORDER BY pos LIMIT 1),
         |    (SELECT shard FROM ring ORDER BY pos LIMIT 1)) AS shard
         |FROM k ORDER BY doc_id""".stripMargin
    },

    "pipeline_mixture" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |n AS (SELECT count(*) AS n_sources FROM per)
        |SELECT source, n_docs, tokens,
        |  least(4.0, 100000.0 /
        |    (CAST(n_sources AS DOUBLE) * CAST(tokens AS DOUBLE))) AS epochs,
        |  least(4.0, 100000.0 /
        |    (CAST(n_sources AS DOUBLE) * CAST(tokens AS DOUBLE)))
        |    * CAST(tokens AS DOUBLE) AS sampled_tokens
        |FROM per CROSS JOIN n ORDER BY source""".stripMargin,

    // Fixed-point pow terms (floor(x*1e6 + 0.5) — exact IEEE floor, no
    // round()/decimal version surface), BIGINT normalizer, raw IEEE
    // ratio columns.
    "pipeline_temperature_mix" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |terms AS (
        |  SELECT source, n_docs, tokens,
        |         CAST(floor(pow(CAST(tokens AS DOUBLE), 0.3) * 1000000.0 + 0.5)
        |           AS BIGINT) AS term_micro
        |  FROM per),
        |tot AS (
        |  SELECT CAST(sum(term_micro) AS BIGINT) AS z_micro,
        |         CAST(sum(tokens) AS BIGINT) AS tot_tokens
        |  FROM terms)
        |SELECT source, n_docs, tokens, term_micro,
        |  CAST(tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS raw_share,
        |  CAST(term_micro AS DOUBLE) / CAST(z_micro AS DOUBLE) AS temp_share,
        |  (CAST(term_micro AS DOUBLE) / CAST(z_micro AS DOUBLE)) /
        |    (CAST(tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)) AS boost
        |FROM terms CROSS JOIN tot ORDER BY source""".stripMargin,

    "pipeline_mixture_sample" ->
      """WITH per AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |n AS (SELECT count(*) AS n_sources FROM per),
        |w AS (SELECT source, least(4.0, 52000.0 /
        |        (CAST(n_sources AS DOUBLE) * CAST(tokens AS DOUBLE))) AS epochs
        |      FROM per CROSS JOIN n),
        |d AS (SELECT doc_id, documents.source, epochs,
        |        CAST(floor(epochs) AS BIGINT) AS n_full,
        |        CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3))
        |                    AS INTEGER) AS DOUBLE)
        |                  < (epochs - floor(epochs)) * 4096.0
        |             THEN 1 ELSE 0 END AS extra
        |      FROM documents JOIN w USING (source)),
        |c AS (SELECT doc_id, source, n_full + extra AS copies
        |      FROM d WHERE n_full + extra >= 1)
        |SELECT doc_id, source,
        |       CAST(unnest(range(1, copies + 1)) AS INTEGER) AS copy
        |FROM c ORDER BY doc_id, copy""".stripMargin,

    "pipeline_seq_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, source AS shard,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum_end
        |  FROM toks)
        |SELECT doc_id, shard, n_tokens,
        |  CAST((cum_end - n_tokens) // 256 AS BIGINT) AS seq_id,
        |  CAST((cum_end - n_tokens) % 256 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS BIGINT) AS en_hits,
        |  CAST(len(regexp_extract_all(text, '\b(der|die|das|und|ist|ein|zu|den)\b')) AS BIGINT) AS de_hits,
        |  CAST(len(regexp_extract_all(text, '\b(le|la|les|et|est|un|une|des)\b')) AS BIGINT) AS fr_hits,
        |  CASE
        |    WHEN len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) >=
        |         len(regexp_extract_all(text, '\b(der|die|das|und|ist|ein|zu|den)\b'))
        |     AND len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) >=
        |         len(regexp_extract_all(text, '\b(le|la|les|et|est|un|une|des)\b'))
        |    THEN 'en'
        |    WHEN len(regexp_extract_all(text, '\b(der|die|das|und|ist|ein|zu|den)\b')) >=
        |         len(regexp_extract_all(text, '\b(le|la|les|et|est|un|une|des)\b'))
        |    THEN 'de' ELSE 'fr' END AS predicted_lang
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                          ' +', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // octet_length(encode(..)) is the UTF-8 byte length — matches the
    // Scala side's getBytes("UTF-8") even if the corpus ever grows
    // non-ASCII characters (char length would silently drift).
    "mm_decode_header" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(16 + octet_length(encode(text)) % 600 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 480 AS INTEGER) AS height,
        |  TRUE AS header_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // n_frames = PCM byte length in whole frames (blockAlign = 2 bytes
    // × channels); byte length via octet_length(encode(..)) as above.
    "mm_audio_header" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER) AS sample_rate,
        |  CAST(octet_length(encode(text)) // (2 * (1 + doc_id % 2)) AS BIGINT) AS n_frames,
        |  TRUE AS header_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Chunk-store round-trip over the duplicate-injected corpus: the
    // CDC cut replay gives the per-doc chunk count; reassembly
    // equality gates through md5(text) — the store side must
    // reproduce every document byte-exactly for the hashes to match.
    "mm_chunk_store" -> chunkStoreOracleWhere(""),

    // Same replay over the corpus MINUS the GC'd documents: after the
    // manifest drop + orphan sweep, every surviving doc must still
    // reassemble byte-exactly — a sweep that removed any still-shared
    // chunk would break a survivor's hash.
    "mm_chunk_gc" -> chunkStoreOracleWhere(
      "AND NOT (doc_id < 100000 AND doc_id % 3 = 0)"),

    // Same window-hash derivation as the Spark side: the CdcKernel
    // windowed polynomial (evaluated here as its per-position sum
    // form), cut where it divides 32; final partial chunk appended
    // when the last position is not already a cut.
    "mm_cdc_chunks" ->
      s"""WITH f AS (SELECT doc_id, text, length(text) AS n
        |           FROM documents WHERE length(text) > 0),
        |pos AS (
        |  SELECT doc_id, unnest(generate_series(8, n)) AS i FROM f),
        |cut AS (
        |  SELECT p.doc_id, p.i
        |  FROM pos p JOIN f USING (doc_id)
        |  WHERE ${cdcCutPredicate(8, 32)}),
        |b AS (
        |  SELECT f.doc_id, f.text, f.n,
        |         coalesce(list_sort(list(cut.i) FILTER (WHERE cut.i IS NOT NULL)),
        |                  []) AS cuts
        |  FROM f LEFT JOIN cut USING (doc_id)
        |  GROUP BY f.doc_id, f.text, f.n),
        |b2 AS (
        |  SELECT doc_id, text,
        |         CASE WHEN len(cuts) = 0 OR cuts[len(cuts)] <> n
        |              THEN list_append(cuts, n) ELSE cuts END AS bounds
        |  FROM b),
        |ch AS (
        |  SELECT doc_id, text, bounds,
        |         unnest(generate_series(1, len(bounds))) AS k
        |  FROM b2),
        |seg AS (
        |  SELECT doc_id, k, text,
        |         CASE WHEN k = 1 THEN 0 ELSE bounds[CAST(k - 1 AS INTEGER)] END AS prev,
        |         bounds[CAST(k AS INTEGER)] AS fin
        |  FROM ch)
        |SELECT doc_id, CAST(k - 1 AS INTEGER) AS chunk_no,
        |       CAST(fin - prev AS INTEGER) AS chunk_len,
        |       md5(substr(text, CAST(prev + 1 AS BIGINT),
        |                  CAST(fin - prev AS BIGINT))) AS chunk_hash
        |FROM seg ORDER BY doc_id, chunk_no""".stripMargin,

    "mm_chunk" ->
      """WITH f AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |c AS (
        |  SELECT doc_id, text, n,
        |         unnest(generate_series(0,
        |           CAST(ceil(CAST(n AS DOUBLE) / 64) AS BIGINT) - 1)) AS chunk_no
        |  FROM f)
        |SELECT doc_id, CAST(chunk_no AS INTEGER) AS chunk_no,
        |  CAST(least(64, n - chunk_no * 64) AS INTEGER) AS chunk_len,
        |  md5(substr(text, CAST(chunk_no * 64 + 1 AS BIGINT), 64)) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin,

    // The mm_chunk replay over the duplicate-injected corpus, rolled
    // up by chunk hash and filtered to duplicated chunks.
    "mm_chunk_dedup" ->
      s"""WITH $corpusCte,
         |f AS (SELECT doc_id, text, length(text) AS n FROM corpus),
         |c AS (
         |  SELECT doc_id, text, n,
         |         unnest(generate_series(0,
         |           CAST(ceil(CAST(n AS DOUBLE) / 64) AS BIGINT) - 1)) AS chunk_no
         |  FROM f),
         |ch AS (
         |  SELECT doc_id,
         |         CAST(least(64, n - chunk_no * 64) AS INTEGER) AS chunk_len,
         |         md5(substr(text, CAST(chunk_no * 64 + 1 AS BIGINT), 64)) AS chunk_hash
         |  FROM c),
         |g AS (
         |  SELECT chunk_hash, count(*) AS n_copies,
         |         count(DISTINCT doc_id) AS n_docs, max(chunk_len) AS chunk_len
         |  FROM ch GROUP BY chunk_hash)
         |SELECT chunk_hash, n_copies, n_docs, chunk_len,
         |       CAST(chunk_len AS BIGINT) * (n_copies - 1) AS bytes_saved
         |FROM g WHERE n_copies >= 2 ORDER BY chunk_hash""".stripMargin,

    "mm_frame_sample" ->
      """WITH f AS (SELECT doc_id, length(text) AS n FROM documents),
        |fr AS (
        |  SELECT doc_id, n,
        |         unnest(generate_series(0,
        |           CAST(ceil(CAST(n AS DOUBLE) / 64) AS BIGINT) - 1)) AS frame_no
        |  FROM f)
        |SELECT doc_id, frame_no,
        |       CAST(least(64, n - frame_no * 64) AS INTEGER) AS frame_bytes
        |FROM fr WHERE frame_no % 2 = 0
        |ORDER BY doc_id, frame_no""".stripMargin,

    "mm_scene_cut" ->
      """WITH f AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |fr AS (
        |  SELECT doc_id, text, n,
        |         unnest(generate_series(0,
        |           CAST(ceil(CAST(n AS DOUBLE) / 64) AS BIGINT) - 1)) AS frame_no
        |  FROM f),
        |fs AS (
        |  SELECT doc_id, frame_no,
        |         CAST(ascii(substr(text, CAST(frame_no * 64 + 1 AS BIGINT), 1)) * 256
        |              + least(64, n - frame_no * 64) AS INTEGER) AS sig
        |  FROM fr WHERE frame_no % 2 = 0),
        |cut AS (
        |  SELECT doc_id, frame_no, sig,
        |         coalesce(abs(sig - lag(sig) OVER w) > 1500, FALSE) AS is_cut
        |  FROM fs WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no))
        |SELECT doc_id, frame_no, sig, is_cut,
        |  CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
        |       OVER (PARTITION BY doc_id ORDER BY frame_no) AS INTEGER) AS scene_id
        |FROM cut ORDER BY doc_id, frame_no""".stripMargin,

    "text_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 != 0
        |         THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@mail' ||
        |              CAST(doc_id % 7 AS VARCHAR) || '.com'
        |         ELSE ' anon' END ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        |  md5(regexp_replace(regexp_replace(text,
        |      '[a-z0-9._]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
        |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM aug ORDER BY doc_id""".stripMargin,

    "pipeline_source_mix" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(text), doc_id) AS r
        |  FROM documents QUALIFY r <= 20)
        |SELECT doc_id, source, r,
        |       row_number() OVER (ORDER BY r, source, doc_id) - 1 AS mix_pos
        |FROM ranked ORDER BY mix_pos""".stripMargin,

    "flow_gzip_roundtrip" ->
      "SELECT doc_id FROM documents ORDER BY doc_id",

    // Replays RollingFingerprint (functions/expressions.scala) byte-for-
    // byte: bytes come from hex(encode(text)) (DuckDB hex() is uppercase),
    // the rolling state is a HUGEINT kept in [0, 2^64) — every *, +, -
    // is reduced mod 2^64 because DuckDB BIGINT arithmetic is checked,
    // not wrapping — and the running min compares SIGNED 64-bit values
    // (the Scala loop compares Longs), so minh converts to signed before
    // least(). 6397295411589846571 = 1000003^15 mod 2^64 (window 16).
    "text_rolling_fingerprint" ->
      """WITH RECURSIVE src AS (
        |  SELECT doc_id,
        |         list_transform(range(1, octet_length(encode(text)) + 1),
        |           j -> (strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*j-1, 1)) - 1) * 16
        |              + (strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*j, 1)) - 1)) AS bs,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |),
        |roll(doc_id, i, h, minh, n, bs) AS (
        |  SELECT doc_id, 0, 0::HUGEINT, NULL::BIGINT, n, bs FROM src
        |  UNION ALL
        |  SELECT doc_id, i, nh,
        |    CASE WHEN i < LEAST(16, n) THEN NULL::BIGINT
        |         ELSE least(coalesce(minh, 9223372036854775807),
        |                    CASE WHEN nh >= 9223372036854775808::HUGEINT
        |                         THEN (nh - 18446744073709551616::HUGEINT)::BIGINT
        |                         ELSE nh::BIGINT END)
        |    END,
        |    n, bs
        |  FROM (
        |    SELECT doc_id, i + 1 AS i,
        |      CASE WHEN i < LEAST(16, n)
        |        THEN (h * 1000003 + bs[i+1]) % 18446744073709551616::HUGEINT
        |        ELSE (((h - bs[i-15] * 6397295411589846571::HUGEINT)
        |                % 18446744073709551616::HUGEINT
        |                + 18446744073709551616::HUGEINT)
        |               % 18446744073709551616::HUGEINT * 1000003
        |              + bs[i+1]) % 18446744073709551616::HUGEINT
        |      END AS nh,
        |      minh, n, bs
        |    FROM roll WHERE i < n
        |  )
        |)
        |SELECT doc_id, coalesce(minh, 0) AS fp
        |FROM roll WHERE i = n
        |ORDER BY doc_id""".stripMargin,

    // GR raster replay: pixel i of doc = byte (i mod len) of its text,
    // raster 4+id%5 wide × 3+id%4 high × 3 interleaved channels. The
    // resize oracle recomputes every output pixel as the 4-term
    // floor-average of its 2×2 source block — exact integers end to
    // end.
    "mm_resize" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |e AS (SELECT *, (W // 2) AS W2, (H // 2) AS H2 FROM d),
        |pos AS (SELECT doc_id, text, L, W, W2, H2,
        |    unnest(generate_series(0, CAST(W2*H2*3 - 1 AS INT))) AS p
        |  FROM e),
        |x AS (SELECT doc_id, p, text, L, W, W2, H2,
        |    (p // (W2*3)) AS y2, ((p % (W2*3)) // 3) AS x2, p % 3 AS c
        |  FROM pos)
        |SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |  CAST((ord(substr(text, CAST((((2*y2  )*W + 2*x2  )*3 + c) % L AS INT) + 1, 1))
        |      + ord(substr(text, CAST((((2*y2  )*W + 2*x2+1)*3 + c) % L AS INT) + 1, 1))
        |      + ord(substr(text, CAST((((2*y2+1)*W + 2*x2  )*3 + c) % L AS INT) + 1, 1))
        |      + ord(substr(text, CAST((((2*y2+1)*W + 2*x2+1)*3 + c) % L AS INT) + 1, 1)))
        |    // 4 AS BIGINT) AS px,
        |  CAST(W2 AS INT) AS out_w, CAST(H2 AS INT) AS out_h
        |FROM x ORDER BY doc_id, pos""".stripMargin,

    // Same raster replay, histogram side: count pixels per (channel,
    // bucket) over the full grid (zero buckets included), normalize by
    // the channel's pixel total W·H — the identical int/int IEEE
    // division Spark performs.
    "mm_feature_hist" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |pos AS (SELECT doc_id, text, L, W, H,
        |    unnest(generate_series(0, CAST(W*H*3 - 1 AS INT))) AS i
        |  FROM d),
        |v AS (SELECT doc_id, i % 3 AS c,
        |    (ord(substr(text, CAST(i % L AS INT) + 1, 1)) * 8) // 256 AS b
        |  FROM pos),
        |chans AS (SELECT unnest(generate_series(0, 2)) AS c),
        |bs AS (SELECT unnest(generate_series(0, 7)) AS b),
        |g2 AS (SELECT doc_id, W*H AS npx, c, b
        |       FROM d CROSS JOIN chans CROSS JOIN bs),
        |cnt AS (SELECT doc_id, c, b, count(*) AS n FROM v GROUP BY 1, 2, 3)
        |SELECT g2.doc_id, CAST(g2.c AS INT) AS c, CAST(g2.b AS INT) AS b,
        |  CAST(coalesce(cnt.n, 0) AS DOUBLE) / g2.npx AS f
        |FROM g2 LEFT JOIN cnt
        |  ON cnt.doc_id = g2.doc_id AND cnt.c = g2.c AND cnt.b = g2.b
        |ORDER BY 1, 2, 3""".stripMargin,

    // Grayscale replay: floor of the 3-channel sum at each pixel.
    "mm_gray" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |pos AS (SELECT doc_id, text, L, W, H,
        |    unnest(generate_series(0, CAST(W*H - 1 AS INT))) AS p
        |  FROM d)
        |SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |  CAST((ord(substr(text, CAST((p*3  ) % L AS INT) + 1, 1))
        |      + ord(substr(text, CAST((p*3+1) % L AS INT) + 1, 1))
        |      + ord(substr(text, CAST((p*3+2) % L AS INT) + 1, 1)))
        |    // 3 AS BIGINT) AS px
        |FROM pos ORDER BY doc_id, pos""".stripMargin,

    // Horizontal-mirror replay: the pure index remap
    // (y·W + (W−1−x))·3 + c on the cycled document bytes.
    // PNG decode replay: decode∘encode is the identity on the
    // synthesized raster, so the expected pixel stream is the raw
    // synthesis — byte p of the cycled document text — plus the
    // unchanged W×H dims. Any codec defect (a filter predictor, zlib
    // framing, CRC math, geometry) breaks some pixel.
    "mm_png_decode" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |pos AS (SELECT doc_id, text, L, W, H,
        |    unnest(generate_series(0, CAST(W*H*3 - 1 AS INT))) AS p
        |  FROM d)
        |SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |  CAST(ord(substr(text, CAST(p % L AS INT) + 1, 1)) AS BIGINT)
        |    AS px,
        |  CAST(W AS INT) AS out_w, CAST(H AS INT) AS out_h
        |FROM pos ORDER BY doc_id, pos""".stripMargin,

    // Closed-form replay of the block-constant synthesis — the JPEG
    // round trip is the identity on this fixture (DC-only blocks,
    // quant 8), so the oracle recomputes every decoded pixel straight
    // from the synthesis formula, no codec math on the DuckDB side.
    "mm_jpeg_roundtrip" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8*(1 + doc_id % 2) + doc_id % 5 AS INT) AS W,
        |    CAST(8*(1 + doc_id % 3) + doc_id % 3 AS INT) AS H
        |  FROM documents),
        |pos AS (SELECT doc_id, W, H,
        |    unnest(generate_series(0, CAST(W*H - 1 AS INT))) AS p
        |  FROM d)
        |SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |  CAST((doc_id*31 + ((p % W) // 8)*41 + ((p // W) // 8)*59) % 256
        |    AS BIGINT) AS px,
        |  W AS out_w, H AS out_h
        |FROM pos ORDER BY doc_id, pos""".stripMargin,

    // The color twin: GR interleaves channels per pixel, so byte p of
    // the decoded body is channel p % 3 of pixel p // 3.
    "mm_jpeg_color_roundtrip" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8*(1 + doc_id % 2) + doc_id % 5 AS INT) AS W,
        |    CAST(8*(1 + doc_id % 3) + doc_id % 3 AS INT) AS H
        |  FROM documents),
        |pos AS (SELECT doc_id, W, H,
        |    unnest(generate_series(0, CAST(W*H*3 - 1 AS INT))) AS p
        |  FROM d)
        |SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |  CAST((doc_id*31 + (((p // 3) % W) // 8)*41
        |        + (((p // 3) // W) // 8)*59 + (p % 3)*17) % 256
        |    AS BIGINT) AS px,
        |  W AS out_w, H AS out_h
        |FROM pos ORDER BY doc_id, pos""".stripMargin,

    "mm_flip" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |pos AS (SELECT doc_id, text, L, W, H,
        |    unnest(generate_series(0, CAST(W*H*3 - 1 AS INT))) AS p
        |  FROM d),
        |x AS (SELECT doc_id, p, text, L, W,
        |    (p // (W*3)) AS y, ((p % (W*3)) // 3) AS xx, p % 3 AS c
        |  FROM pos)
        |SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |  CAST(ord(substr(text,
        |    CAST(((y*W + (W-1-xx))*3 + c) % L AS INT) + 1, 1)) AS BIGINT)
        |    AS px
        |FROM x ORDER BY doc_id, pos""".stripMargin,

    // Upsample replay: output pixel p of the 2W×2H raster maps to
    // source ((y/2)·W + x/2)·3 + c over the cycled document bytes.
    "mm_upsample" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |pos AS (SELECT doc_id, text, L, W, H,
        |    unnest(generate_series(0, CAST(2*W*2*H*3 - 1 AS INT))) AS p
        |  FROM d),
        |x AS (SELECT doc_id, p, text, L, W,
        |    (p // (2*W*3)) AS y, ((p % (2*W*3)) // 3) AS xx, p % 3 AS c
        |  FROM pos)
        |SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |  CAST(ord(substr(text,
        |    CAST((((y // 2)*W + xx // 2)*3 + c) % L AS INT) + 1, 1))
        |    AS BIGINT) AS px
        |FROM x ORDER BY doc_id, pos""".stripMargin,

    // Crop replay: the fixed 2×2 window at (1,1) — 12 bytes per doc,
    // source index ((1+y)·W + (1+x))·3 + c.
    "mm_crop" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |pos AS (SELECT doc_id, text, L, W,
        |    unnest(generate_series(0, 11)) AS p FROM d),
        |x AS (SELECT doc_id, p, text, L, W,
        |    (p // 6) AS y, ((p % 6) // 3) AS xx, p % 3 AS c FROM pos)
        |SELECT doc_id, CAST(p AS BIGINT) AS pos,
        |  CAST(ord(substr(text,
        |    CAST((((1+y)*W + (1+xx))*3 + c) % L AS INT) + 1, 1))
        |    AS BIGINT) AS px
        |FROM x ORDER BY doc_id, pos""".stripMargin,

    // Channel-stats replay: exact integer sum/min/max per channel over
    // the cycled bytes; mean = sum / (W·H) as one IEEE division.
    "mm_channel_stats" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |pos AS (SELECT doc_id, text, L, W, H,
        |    unnest(generate_series(0, CAST(W*H*3 - 1 AS INT))) AS i
        |  FROM d),
        |v AS (SELECT doc_id, i % 3 AS c, W*H AS npx,
        |    ord(substr(text, CAST(i % L AS INT) + 1, 1)) AS val
        |  FROM pos)
        |SELECT doc_id, CAST(c AS INT) AS c,
        |  CAST(sum(val) AS BIGINT) AS psum,
        |  CAST(min(val) AS BIGINT) AS pmin,
        |  CAST(max(val) AS BIGINT) AS pmax,
        |  CAST(sum(val) AS DOUBLE) / max(npx) AS pmean
        |FROM v GROUP BY doc_id, c ORDER BY doc_id, c""".stripMargin,

    // Fused-pipeline replay: resize(2) → gray → histogram(8) in closed
    // form — 12 ord terms and 4 nested floors per gray pixel, then the
    // bucket rollup over the zero-including grid.
    "mm_pipeline" -> mmPipelineSql,
    // decode(encode(x)) = x per byte, so the PNG-composed chain
    // produces mm_pipeline's exact rows and shares its replay.
    "mm_png_pipeline" -> mmPipelineSql,

    // JPEG-composed pipeline over the block-constant fixture: the
    // round trip is the identity there and a 2×2 box window never
    // crosses a block boundary, so the resized pixel IS the block
    // constant — histogram replayed closed-form from the synthesis.
    "mm_jpeg_pipeline" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8*(1 + doc_id % 2) + doc_id % 5 AS INT) AS W,
        |    CAST(8*(1 + doc_id % 3) + doc_id % 3 AS INT) AS H
        |  FROM documents),
        |e AS (SELECT doc_id, W, H, W // 2 AS W2, H // 2 AS H2 FROM d),
        |pos AS (SELECT doc_id, W2,
        |    unnest(generate_series(0, CAST(W2*H2 - 1 AS INT))) AS p
        |  FROM e),
        |g AS (SELECT doc_id,
        |    (doc_id*31 + ((2*(p % W2)) // 8)*41
        |     + ((2*(p // W2)) // 8)*59) % 256 AS gv
        |  FROM pos),
        |bs AS (SELECT unnest(generate_series(0, 7)) AS b),
        |grid AS (SELECT doc_id, b
        |         FROM (SELECT DISTINCT doc_id FROM d) CROSS JOIN bs),
        |cnt AS (SELECT doc_id, (gv*8) // 256 AS b, count(*) AS n
        |        FROM g GROUP BY 1, 2)
        |SELECT grid.doc_id, CAST(grid.b AS INT) AS b,
        |  CAST(coalesce(cnt.n, 0) AS BIGINT) AS cnt
        |FROM grid LEFT JOIN cnt
        |  ON cnt.doc_id = grid.doc_id AND cnt.b = grid.b
        |ORDER BY 1, 2""".stripMargin,

    // Feature-kNN replay: rebuild every doc's 24-dim feature vector
    // (per-channel histogram ratios, channel-major), then brute-force
    // cosine over the computed vectors — the full image→vector→ANN
    // chain in one closed form.
    "mm_feature_knn" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) AS L,
         |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
         |pos AS (SELECT doc_id, text, L, W, H,
         |    unnest(generate_series(0, CAST(W*H*3 - 1 AS INT))) AS i
         |  FROM d),
         |pv AS (SELECT doc_id, i % 3 AS c,
         |    (ord(substr(text, CAST(i % L AS INT) + 1, 1)) * 8) // 256 AS b
         |  FROM pos),
         |chans AS (SELECT unnest(generate_series(0, 2)) AS c),
         |bs AS (SELECT unnest(generate_series(0, 7)) AS b),
         |g2 AS (SELECT doc_id, W*H AS npx, c, b
         |       FROM d CROSS JOIN chans CROSS JOIN bs),
         |cnt AS (SELECT doc_id, c, b, count(*) AS n FROM pv
         |        GROUP BY 1, 2, 3),
         |fg AS (SELECT g2.doc_id, g2.c, g2.b,
         |    CAST(coalesce(cnt.n, 0) AS DOUBLE) / g2.npx AS f
         |  FROM g2 LEFT JOIN cnt ON cnt.doc_id = g2.doc_id
         |    AND cnt.c = g2.c AND cnt.b = g2.b),
         |fv AS (SELECT doc_id AS vec_id, list(f ORDER BY c, b) AS v
         |       FROM fg GROUP BY doc_id),
         |bfs AS (
         |  SELECT p.vec_id AS probe_id, o.vec_id AS neighbor_id,
         |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
         |  FROM fv p, fv o
         |  WHERE p.vec_id < 10 AND o.vec_id <> p.vec_id)
         |SELECT probe_id, neighbor_id, cos_r, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos_r DESC, neighbor_id) AS rnk FROM bfs)
         |WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    // Video scene-cut replay: frame f's gray signature is the sum of
    // floor 3-channel averages over the shifted byte cycle
    // (i + f·11 mod len); cut/scene windows replay per doc.
    "mm_video_cuts" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    4 + doc_id % 5 AS W, 3 + doc_id % 4 AS H FROM documents),
        |fr AS (SELECT doc_id, text, L, W, H,
        |    unnest(generate_series(0, 5)) AS f FROM d),
        |px AS (SELECT doc_id, f, text, L,
        |    unnest(generate_series(0, CAST(W*H - 1 AS INT))) AS p
        |  FROM fr),
        |g AS (SELECT doc_id, f,
        |   (ord(substr(text, CAST((3*p   + f*11) % L AS INT) + 1, 1))
        |  + ord(substr(text, CAST((3*p+1 + f*11) % L AS INT) + 1, 1))
        |  + ord(substr(text, CAST((3*p+2 + f*11) % L AS INT) + 1, 1)))
        |    // 3 AS gv
        |  FROM px),
        |s AS (SELECT doc_id, f, CAST(sum(gv) AS BIGINT) AS sig
        |      FROM g GROUP BY 1, 2),
        |c AS (SELECT doc_id, f, sig,
        |   coalesce(abs(sig - lag(sig) OVER (
        |     PARTITION BY doc_id ORDER BY f)) > 14, FALSE) AS is_cut
        |  FROM s)
        |SELECT doc_id, CAST(f AS INT) AS frame_no, sig, is_cut,
        |  CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY doc_id ORDER BY f) AS INT) AS scene_id
        |FROM c ORDER BY doc_id, frame_no""".stripMargin,

    // WAV window-stats replay: channels = 1 + doc_id%2, PCM data =
    // the document bytes truncated to whole frames; sample k of
    // window w is the signed LE16 at byte 2·(w·16·c + k); energy and
    // peak aggregate per window over FULL windows only.
    "mm_audio_energy" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
        |    1 + doc_id % 2 AS c FROM documents),
        |e AS (SELECT *, 2*c AS ba, (L - L % (2*c)) AS dl FROM d),
        |f AS (SELECT *, (dl // ba) // 16 AS nw FROM e),
        |w AS (SELECT doc_id, text, c,
        |    unnest(generate_series(0, CAST(nw - 1 AS INT))) AS win
        |  FROM f WHERE nw > 0),
        |s AS (SELECT doc_id, win, c, text,
        |    unnest(generate_series(0, CAST(16*c - 1 AS INT))) AS k
        |  FROM w),
        |v0 AS (SELECT doc_id, win,
        |    ord(substr(text, CAST(2*(win*16*c + k) AS INT) + 1, 1))
        |  + 256*ord(substr(text, CAST(2*(win*16*c + k) AS INT) + 2, 1))
        |    AS u
        |  FROM s),
        |v AS (SELECT doc_id, win,
        |    CAST(u - 65536*(CASE WHEN u >= 32768 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS val
        |  FROM v0)
        |SELECT doc_id, CAST(win AS INT) AS win,
        |  CAST(sum(val*val) AS BIGINT) AS energy,
        |  CAST(max(abs(val)) AS BIGINT) AS peak
        |FROM v GROUP BY doc_id, win ORDER BY doc_id, win""".stripMargin,

    "mm_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  sha256(text) AS sha,
        |  lower(hex(encode(substr(text, 1, 4)))) AS magic
        |FROM documents ORDER BY doc_id""".stripMargin,

    // RRF smoothing terms force DOUBLE division (1.0 / CAST(.. AS
    // DOUBLE)) — DuckDB would otherwise divide as DECIMAL; Spark's
    // lit(1.0)/(60+rank) is double division of the same exact ints, so
    // both engines produce the identical IEEE value before the 6-dp
    // round. Ranks are exact integers; no other float enters the fusion.
    "sim_hybrid_rrf" ->
      s"""WITH $rrfFusedCte,
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rnk
         |  FROM fused)
         |SELECT probe_id, doc_id, rank_lex, rank_vec, rrf, rnk
         |FROM ranked WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin,

    // Same fused chain; the per-(probe, source) window caps each source
    // at 2 before the global top-5 re-rank — mirrors the two stacked
    // windows in [[graft.operators.Retrieval.diversifiedRrf]].
    "sim_rrf_diverse" ->
      s"""WITH $rrfFusedCte,
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rnk
         |  FROM fused),
         |cand AS (SELECT probe_id, doc_id, rrf FROM ranked WHERE rnk <= 40),
         |ws AS (
         |  SELECT c.probe_id, c.doc_id, d.source, c.rrf,
         |         row_number() OVER (
         |           PARTITION BY c.probe_id, d.source
         |           ORDER BY c.rrf DESC, c.doc_id) AS src_rnk
         |  FROM cand c JOIN documents d USING (doc_id)),
         |wf AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rnk
         |  FROM ws WHERE src_rnk <= 2)
         |SELECT probe_id, doc_id, source, rrf, src_rnk, rnk
         |FROM wf WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    // Unrolled 3-round greedy MMR replay. The λ blend runs in exact
    // DECIMAL over the 6-dp inputs (0.7 and 1.0 parse as DECIMAL
    // literals; the double sides are cast to DECIMAL(18,6)) so the
    // final 6-dp round is exact-arithmetic on both engines — a double
    // blend lands probe 1's round-2 score exactly on the 0.2030395
    // boundary where the two engines' rounding disagrees.
    "sim_mmr_rerank" ->
      s"""WITH $ovecsCte,
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM ovecs
         |           WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, o.vec_id AS nid, o.v AS nv,
         |         round(${cosSql("pv", "o.v")}, 6) AS rel
         |  FROM probes, ovecs o WHERE probe_id <> o.vec_id),
         |cand AS (SELECT probe_id, nid, nv, rel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY rel DESC, nid) AS rn FROM scored) WHERE rn <= 8),
         |sims AS (
         |  SELECT a.probe_id, a.nid AS cid, b.nid AS sid,
         |         round(${cosSql("a.nv", "b.nv")}, 6) AS sim_r
         |  FROM cand a JOIN cand b
         |    ON a.probe_id = b.probe_id AND a.nid <> b.nid),
         |s1 AS (SELECT probe_id, nid, rel AS mmr_r, 1 AS rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY rel DESC, nid) AS rn FROM cand) WHERE rn = 1),
         |m2 AS (
         |  SELECT c.probe_id, c.nid,
         |         CAST(round(0.7 * CAST(c.rel AS DECIMAL(18,6)) -
         |  (1.0 - 0.7) * CAST(max(s.sim_r) AS DECIMAL(18,6)), 6)
         |  AS DOUBLE) AS mmr
         |  FROM cand c
         |  JOIN s1 ON s1.probe_id = c.probe_id AND c.nid <> s1.nid
         |  JOIN sims s ON s.probe_id = c.probe_id AND s.cid = c.nid
         |             AND s.sid = s1.nid
         |  GROUP BY c.probe_id, c.nid, c.rel),
         |s2 AS (SELECT probe_id, nid, mmr AS mmr_r, 2 AS rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY mmr DESC, nid) AS rn FROM m2) WHERE rn = 1),
         |sel AS (SELECT probe_id, nid FROM s1
         |        UNION ALL SELECT probe_id, nid FROM s2),
         |m3 AS (
         |  SELECT c.probe_id, c.nid,
         |         CAST(round(0.7 * CAST(c.rel AS DECIMAL(18,6)) -
         |  (1.0 - 0.7) * CAST(max(s.sim_r) AS DECIMAL(18,6)), 6)
         |  AS DOUBLE) AS mmr
         |  FROM cand c
         |  JOIN sims s ON s.probe_id = c.probe_id AND s.cid = c.nid
         |  JOIN sel ON sel.probe_id = s.probe_id AND sel.nid = s.sid
         |  WHERE NOT EXISTS (SELECT 1 FROM sel x
         |    WHERE x.probe_id = c.probe_id AND x.nid = c.nid)
         |  GROUP BY c.probe_id, c.nid, c.rel),
         |s3 AS (SELECT probe_id, nid, mmr AS mmr_r, 3 AS rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY mmr DESC, nid) AS rn FROM m3) WHERE rn = 1),
         |outp AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |         UNION ALL SELECT * FROM s3)
         |SELECT probe_id, nid AS neighbor_id, mmr_r, rnk
         |FROM outp ORDER BY probe_id, rnk""".stripMargin,

    // Exact-decimal means (the kmeansCte pattern): sum as DECIMAL(38,18)
    // so the summation order can't drift, divide once, round 6 dp.
    "sim_embed_drift" ->
      s"""WITH $ovecsCte,
         |dims AS (
         |  SELECT vec_id % 2 AS half, unnest(v) AS x,
         |         unnest(generate_series(1, len(v))) AS pos
         |  FROM ovecs),
         |m AS (
         |  SELECT pos AS dim, half,
         |         round(CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
         |               / count(*), 6) AS mean_r
         |  FROM dims GROUP BY pos, half)
         |SELECT dim,
         |       max(CASE WHEN half = 0 THEN mean_r END) AS mean_a,
         |       max(CASE WHEN half = 1 THEN mean_r END) AS mean_b,
         |       round(abs(max(CASE WHEN half = 0 THEN mean_r END) -
         |                 max(CASE WHEN half = 1 THEN mean_r END)), 6) AS shift
         |FROM m GROUP BY dim ORDER BY dim""".stripMargin,

    // The ±1 sign matrix regenerates from md5("out_dim:pos") parity in
    // both engines. The ±1 multiply is exact in double, so terms cast
    // straight to DECIMAL(38,18) (the kmeansCte pattern — a 6-dp
    // per-term round would sit on half-way cases and drift between the
    // engines' rounding paths); the 1/√4 = /2.0 scaling is exact.
    "sim_random_projection" ->
      s"""WITH $ovecsCte,
         |dims AS (
         |  SELECT vec_id, unnest(v) AS x,
         |         unnest(generate_series(1, len(v))) AS pos
         |  FROM ovecs),
         |od AS (SELECT unnest(generate_series(1, 4)) AS out_dim),
         |t AS (
         |  SELECT vec_id, out_dim, x,
         |         CASE WHEN CAST(('0x' || substr(
         |                  md5(out_dim || ':' || pos), 1, 3)) AS INTEGER)
         |                % 2 = 0
         |              THEN CAST(1.0 AS DOUBLE)
         |              ELSE CAST(-1.0 AS DOUBLE) END AS sgn
         |  FROM dims CROSS JOIN od)
         |SELECT vec_id, out_dim,
         |       round(CAST(sum(CAST(x * sgn AS DECIMAL(38,18)))
         |             AS DOUBLE) / 2.0, 6) AS proj
         |FROM t GROUP BY vec_id, out_dim ORDER BY vec_id, out_dim""".stripMargin,

    // Efraimidis–Spirakis keys: u = (md5-prefix + 0.5)/2³² ∈ (0,1),
    // key = −ln(u)/w rounded to 9 dp (ulp-level libm drift in ln cannot
    // reorder through the round + id tie-break).
    "pipeline_reservoir_weighted" ->
      """WITH b AS (
        |  SELECT doc_id, source, n_chars,
        |         round(-ln((CAST(CAST(('0x' || substr(
        |                    md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |                  AS DOUBLE) + 0.5) / 4294967296.0)
        |               / CAST(n_chars AS DOUBLE), 9) AS es_key
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY source ORDER BY es_key, doc_id) AS rnk
        |  FROM b)
        |SELECT doc_id, source, n_chars, es_key, rnk FROM r
        |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,

    // Same component chain as dedup_components; the final window picks
    // each cluster's longest member (ties to the smaller id) — the
    // keep flag the Spark side derives via max(struct(q, -doc_id)).
    "pipeline_canonical_quality" ->
      s"""WITH RECURSIVE $corpusCte,
         |$shinglesCte,
         |$lshV2CandCte,
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM cand
         |  UNION SELECT id_b AS u, id_a AS v FROM cand),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
         |comp AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |lab AS (
         |  SELECT c.doc_id, coalesce(p.component, c.doc_id) AS component,
         |         length(c.text) AS q
         |  FROM corpus c LEFT JOIN comp p ON c.doc_id = p.doc_id)
         |SELECT doc_id, component, q,
         |       (row_number() OVER (
         |          PARTITION BY component ORDER BY q DESC, doc_id)) = 1 AS keep
         |FROM lab ORDER BY doc_id""".stripMargin,

    // Round-2 direction published straight from the w2/norm pair (the
    // same values v2 lists), 1-based dims.
    "sim_pca_power" ->
      s"""WITH $pcaChainCte
         |SELECT pos AS dim, round(w / sqrt(n2), 6) AS loading
         |FROM w2 CROSS JOIN n2c ORDER BY dim""".stripMargin,

    // Coefficient stays UNROUNDED inside the residual (matching the
    // Spark plan); only the published columns round.
    "sim_pca_residual" ->
      s"""WITH $pcaChainCte,
         |pr AS (SELECT vec_id, xc, pv, list_dot_product(xc, pv) AS c
         |       FROM cent CROSS JOIN v2),
         |rr AS (
         |  SELECT vec_id, c,
         |         list_transform(generate_series(1, len(xc)),
         |                        i -> xc[i] - c * pv[i]) AS r
         |  FROM pr)
         |SELECT vec_id, round(c, 6) AS coeff_r,
         |       round(sqrt(list_dot_product(r, r)), 6) AS resid_norm_r
         |FROM rr ORDER BY vec_id""".stripMargin,

    // PMI over exact integer ratios: one ln per pair, no summation.
    "text_cooccurrence_pmi" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |dfx AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
        |vocab AS (SELECT term, df FROM dfx ORDER BY df DESC, term LIMIT 30),
        |dv AS (SELECT doc_id, term FROM dt
        |       WHERE term IN (SELECT term FROM vocab)),
        |p AS (
        |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
        |  FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY a.term, b.term
        |  HAVING count(*) >= 5),
        |tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term_a, term_b, va.df AS n_a, vb.df AS n_b, n_ab,
        |       round(ln(CAST(n_ab AS DOUBLE) * CAST(n_docs AS DOUBLE) /
        |                (CAST(va.df AS DOUBLE) * CAST(vb.df AS DOUBLE))), 6)
        |         AS pmi
        |FROM p JOIN vocab va ON p.term_a = va.term
        |       JOIN vocab vb ON p.term_b = vb.term
        |CROSS JOIN tot
        |ORDER BY term_a, term_b""".stripMargin,

    "sim_mips_topk" ->
      s"""WITH $ovecsCte,
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM ovecs
         |           WHERE vec_id < 10),
         |scored AS (
         |  SELECT probe_id, o.vec_id AS neighbor_id,
         |         round(list_dot_product(pv, o.v), 6) AS ip_r
         |  FROM probes, ovecs o WHERE probe_id <> o.vec_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY ip_r DESC, neighbor_id)
         |    AS INTEGER) AS rnk
         |  FROM scored)
         |SELECT probe_id, neighbor_id, ip_r, rnk FROM ranked
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    "pipeline_negative_sample" ->
      """WITH reps AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3))
        |           AS INTEGER) % 64 AS bucket,
        |         min(doc_id) AS neg_id
        |  FROM documents GROUP BY 1),
        |ranked AS (
        |  SELECT neg_id,
        |         CAST(row_number() OVER (ORDER BY bucket) AS INTEGER) - 1
        |           AS slot
        |  FROM reps),
        |n AS (SELECT CAST(count(*) AS INTEGER) AS n_occ FROM reps),
        |draws AS (
        |  SELECT doc_id, j,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |             CAST(j AS VARCHAR)), 1, 3)) AS INTEGER) % n_occ AS slot
        |  FROM documents CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j)
        |  CROSS JOIN n)
        |SELECT doc_id, j, neg_id
        |FROM draws JOIN ranked USING (slot)
        |WHERE neg_id <> doc_id
        |ORDER BY doc_id, j""".stripMargin,

    // Composition of the sim_knn_join chain and the semantic-component
    // closure: ANN candidates whose endpoints live in DIFFERENT
    // near-dup components, re-ranked densely per probe.
    "pipeline_hard_negatives" ->
      s"""WITH RECURSIVE vecsl AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id, label, embedding::DOUBLE[] AS v
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |dims AS (
         |  SELECT vec_id, label, unnest(v) AS x,
         |         unnest(generate_series(1, len(v))) AS pos
         |  FROM vecsl),
         |cents AS (
         |  SELECT label, pos, avg(x) AS cmean FROM dims GROUP BY label, pos),
         |d2 AS (
         |  SELECT d.vec_id AS probe_id, c.label,
         |         sum((x - cmean) * (x - cmean)) AS dist2
         |  FROM dims d JOIN cents c USING (pos) GROUP BY d.vec_id, c.label),
         |assigned AS (
         |  SELECT probe_id, label AS assigned_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY round(dist2, 6), label) AS rn FROM d2)
         |  WHERE rn <= 2),
         |scored AS (
         |  SELECT a.probe_id, o.vec_id AS neighbor_id,
         |         round(${cosSql("p.v", "o.v")}, 6) AS cos_r
         |  FROM assigned a JOIN vecsl p ON p.vec_id = a.probe_id
         |  JOIN vecsl o ON o.label = a.assigned_label
         |    AND o.vec_id <> a.probe_id),
         |knn AS (
         |  SELECT probe_id, neighbor_id, cos_r FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos_r DESC, neighbor_id) AS rnk FROM scored)
         |  WHERE rnk <= 3),
         |dpairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM vecsl a JOIN vecsl b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v")} >= 0.8),
         |dedges AS (
         |  SELECT id_a AS u, id_b AS v FROM dpairs
         |  UNION SELECT id_b AS u, id_a AS v FROM dpairs),
         |reach AS (
         |  SELECT u, v FROM dedges
         |  UNION
         |  SELECT e.u, r.v FROM dedges e JOIN reach r ON e.v = r.u),
         |comp AS (
         |  SELECT u AS vec_id, least(u, min(v)) AS component
         |  FROM reach GROUP BY u),
         |compv AS (
         |  SELECT v.vec_id, coalesce(p.component, v.vec_id) AS component
         |  FROM vecsl v LEFT JOIN comp p ON v.vec_id = p.vec_id)
         |SELECT probe_id, neighbor_id, cos_r,
         |       CAST(row_number() OVER (PARTITION BY probe_id
         |         ORDER BY cos_r DESC, neighbor_id) AS INTEGER) AS hn_rank
         |FROM knn
         |JOIN compv cp ON cp.vec_id = knn.probe_id
         |JOIN compv cn ON cn.vec_id = knn.neighbor_id
         |WHERE cp.component <> cn.component
         |ORDER BY probe_id, hn_rank""".stripMargin,

    "sketch_kmv_distinct" -> kmvDistinctOracle,

    // Same oracle as the monolithic form: the shard-merge property
    // guarantees bit-identical output, and gating both against one SQL
    // is the proof.
    "sketch_kmv_sharded" -> kmvDistinctOracle,

    // Parquet round-trip of the BIGINT synopsis is exact — same oracle.
    "sketch_kmv_persist" -> kmvDistinctOracle,

    "sketch_kmv_jaccard" ->
      s"""WITH $corpusCte,
         |ha AS (
         |  SELECT DISTINCT CAST(CAST(('0x' || substr(md5(text), 1, 12))
         |           AS UBIGINT) AS BIGINT) AS h, 1 AS in_a
         |  FROM documents),
         |hb AS (
         |  SELECT DISTINCT CAST(CAST(('0x' || substr(md5(text), 1, 12))
         |           AS UBIGINT) AS BIGINT) AS h, 1 AS in_b
         |  FROM corpus),
         |u AS (
         |  SELECT coalesce(ha.h, hb.h) AS h, coalesce(in_a, 0) AS in_a,
         |         coalesce(in_b, 0) AS in_b
         |  FROM ha FULL OUTER JOIN hb ON ha.h = hb.h),
         |top AS (SELECT * FROM u ORDER BY h LIMIT 64),
         |agg AS (
         |  SELECT count(*) AS n_kept, max(h) AS hk,
         |         CAST(sum(in_a * in_b) AS BIGINT) AS n_both
         |  FROM top),
         |est AS (
         |  SELECT n_kept, n_both,
         |         (n_both * 1000000) // n_kept AS jac_micro,
         |         CASE WHEN n_kept < 64 THEN n_kept
         |              ELSE (63 * 281474976710656) // hk END AS est_union
         |  FROM agg)
         |SELECT n_kept, n_both, jac_micro, est_union,
         |       (n_both * est_union) // n_kept AS est_inter
         |FROM est""".stripMargin,

    "pipeline_token_budget" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY source
        |           ORDER BY doc_id) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT source, doc_id, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 2000
        |ORDER BY source, doc_id""".stripMargin,

    "sketch_quantile" -> quantileSketchOracle,

    // Shard merge is a re-rank of per-shard bottom-k samples — same
    // oracle as the monolithic sketch.
    "sketch_quantile_sharded" -> quantileSketchOracle,

    // Parquet round-trip of the all-BIGINT sample is exact — same
    // oracle.
    "sketch_quantile_persist" -> quantileSketchOracle,

    "sketch_hll_distinct" -> hllDistinctOracle,

    // Register merge is max-stable — same oracle as the monolithic HLL.
    "sketch_hll_sharded" -> hllDistinctOracle,

    // Parquet round-trip of the all-integer register table is exact —
    // same oracle as the monolithic HLL.
    "sketch_hll_persist" -> hllDistinctOracle,

    // Same oracle as the monolithic CMS: linearity of count-min makes
    // the sharded build bit-identical.
    "sketch_cms_sharded" -> cmsHeavyOracle,

    // The subtracted sketch equals a fresh build over the surviving
    // events (count-min linearity); the oracle IS that fresh build's
    // cell table.
    "sketch_cms_delete" ->
      """WITH kx AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
        |            WHERE event_id % 5 <> 0),
        |js AS (SELECT unnest([1, 2, 3]) AS j),
        |cells AS (
        |  SELECT k, j,
        |         CAST(CAST(('0x' || substr(
        |             md5(CAST(j AS VARCHAR) || ':' || k), 1, 12)) AS UBIGINT)
        |           AS BIGINT) % 256 AS bucket
        |  FROM kx CROSS JOIN js)
        |SELECT j, bucket, count(*) AS c
        |FROM cells GROUP BY j, bucket
        |ORDER BY j, bucket""".stripMargin,

    // External candidates (every customer key; 90% absent from the
    // build stream) against the events CMS — absent cells count as
    // zero on both sides.
    "sketch_cms_lookup" ->
      """WITH kx AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
        |js AS (SELECT unnest([1, 2, 3]) AS j),
        |cells AS (
        |  SELECT k, j,
        |         CAST(CAST(('0x' || substr(
        |             md5(CAST(j AS VARCHAR) || ':' || k), 1, 12)) AS UBIGINT)
        |           AS BIGINT) % 256 AS bucket
        |  FROM kx CROSS JOIN js),
        |cms AS (SELECT j, bucket, count(*) AS c
        |        FROM cells GROUP BY j, bucket),
        |cand AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
        |         FROM customer),
        |tc AS (SELECT cand.k, CAST(coalesce(cnt.true_c, 0) AS BIGINT)
        |           AS true_c
        |       FROM cand LEFT JOIN (SELECT k, count(*) AS true_c
        |                            FROM kx GROUP BY k) cnt USING (k)),
        |cc AS (
        |  SELECT k, true_c, j,
        |         CAST(CAST(('0x' || substr(
        |             md5(CAST(j AS VARCHAR) || ':' || k), 1, 12))
        |           AS UBIGINT) AS BIGINT) % 256 AS bucket
        |  FROM tc CROSS JOIN js)
        |SELECT cc.k, true_c, CAST(min(coalesce(c, 0)) AS BIGINT) AS est_c
        |FROM cc LEFT JOIN cms USING (j, bucket)
        |GROUP BY cc.k, true_c
        |ORDER BY cc.k""".stripMargin,

    // Full replay of the synopsis store + pairwise set algebra:
    // per-source bottom-64 distinct 8-shingle hashes, merged per pair
    // with membership flags, re-ranked to the union's bottom-64, then
    // the Beyer et al. estimators in integer arithmetic.
    "sketch_kmv_setops" ->
      """WITH f AS (SELECT source, text, length(text) AS n FROM documents
        |           WHERE length(text) >= 8),
        |g AS (
        |  SELECT DISTINCT source,
        |         CAST(CAST(('0x' || substr(
        |             md5(substr(text, CAST(i AS BIGINT), 8)), 1, 12))
        |           AS UBIGINT) AS BIGINT) AS h
        |  FROM f, unnest(generate_series(1, n - 7)) AS t(i)),
        |syn AS (SELECT source, h FROM (
        |  SELECT source, h, row_number() OVER (PARTITION BY source
        |    ORDER BY h) AS rnk FROM g) WHERE rnk <= 64),
        |estd AS (
        |  SELECT source,
        |         CASE WHEN count(*) < 64 THEN count(*)
        |              ELSE (63 * 281474976710656) // max(h) END AS est_d
        |  FROM syn GROUP BY source),
        |srcs AS (SELECT DISTINCT source FROM syn),
        |pr AS (SELECT a.source AS ga, b.source AS gb
        |       FROM srcs a JOIN srcs b ON a.source < b.source),
        |u AS (
        |  SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        |    SELECT pr.ga, pr.gb, s.h, 1 AS in_a, 0 AS in_b
        |    FROM pr JOIN syn s ON s.source = pr.ga
        |    UNION ALL
        |    SELECT pr.ga, pr.gb, s.h, 0 AS in_a, 1 AS in_b
        |    FROM pr JOIN syn s ON s.source = pr.gb)
        |  GROUP BY ga, gb, h),
        |w AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h)
        |    AS rnk FROM u) WHERE rnk <= 64),
        |agg AS (SELECT ga, gb, count(*) AS n_kept, max(h) AS hk,
        |               sum(in_a * in_b) AS n_both
        |        FROM w GROUP BY ga, gb),
        |e AS (SELECT ga, gb, n_kept, n_both,
        |        CASE WHEN n_kept < 64 THEN n_kept
        |             ELSE (63 * 281474976710656) // hk END AS est_union
        |      FROM agg)
        |SELECT e.ga, e.gb, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(n_both AS BIGINT) AS n_both,
        |  CAST(ea.est_d AS BIGINT) AS est_a,
        |  CAST(eb.est_d AS BIGINT) AS est_b,
        |  CAST(est_union AS BIGINT) AS est_union,
        |  CAST((n_both * est_union) // n_kept AS BIGINT) AS est_inter,
        |  CAST(greatest(ea.est_d - (n_both * est_union) // n_kept, 0)
        |    AS BIGINT) AS est_only_a,
        |  CAST((n_both * 1000000) // n_kept AS BIGINT) AS jac_micro
        |FROM e JOIN estd ea ON ea.source = e.ga
        |       JOIN estd eb ON eb.source = e.gb
        |ORDER BY ga, gb""".stripMargin,

    // Parquet round-trip of BIGINT cells is exact — same oracle.
    "sketch_cms_persist" -> cmsHeavyOracle,

    "sketch_cms_heavy" -> cmsHeavyOracle,

    "pipeline_compaction_plan" ->
      """WITH f AS (
        |  SELECT source AS part_key, doc_id AS file_id,
        |         CAST(n_chars AS BIGINT) AS bytes
        |  FROM documents),
        |c AS (
        |  SELECT part_key, file_id, bytes,
        |         CAST(coalesce(sum(bytes) OVER (
        |           PARTITION BY part_key ORDER BY file_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS brn
        |  FROM f)
        |SELECT part_key, brn // 20000 AS bin, count(*) AS n_files,
        |       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |       min(file_id) AS first_file, max(file_id) AS last_file
        |FROM c GROUP BY part_key, brn // 20000
        |ORDER BY part_key, bin""".stripMargin
  )
}
