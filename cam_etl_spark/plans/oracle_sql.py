"""SQL-text fragments shared by the DuckDB oracles of the query catalog.

Only oracles use this module: registered Spark builders never call it
(``tests/test_tools.py`` scans for that), so an oracle shares no code
with the builder it checks. Each fragment keeps the exact whitespace of
the oracle text around it, so a rendered oracle is the same text as if
it were written out in full.
"""

# ---------------------------------------------------------------------------
# Documents as md5 digests: media decoders replay digest arithmetic
# ---------------------------------------------------------------------------

#: The 16 bytes of the 32-hex-digit md5 digest ``h`` as the BIGINT list ``d``.
MD5_BYTES = """list_transform(range(16),
                            k -> ('0x' || substr(h, 2*k + 1, 2))::bigint) AS d"""


def md5_digest(where: str = "", cols: str = "", base_cols: str = "") -> str:
    """CTEs ``base`` (the md5 ``h`` of each document's text and the
    select items ``base_cols``, for the documents matching ``where``)
    and ``dg`` (its bytes ``d`` by doc_id, after the select items
    ``cols``)."""
    h = f"h,\n             {base_cols}" if base_cols else "h"
    sep = "\n      " if where or base_cols else " "
    src = f"FROM documents WHERE {where})" if where else "FROM documents)"
    sel = f" {cols}," if cols else ""
    return f"""base AS (
      SELECT doc_id, md5(coalesce(text, '')) AS {h}{sep}{src},
    dg AS (
      SELECT doc_id,{sel}
             {MD5_BYTES}
      FROM base)"""


def int16_sample(lo: str, hi: str) -> str:
    """``CASE`` reading the digest bytes ``d[lo]`` (low) and ``d[hi]``
    (high) as one signed 16-bit sample."""
    x = f"d[{lo}] + 256 * d[{hi}]"
    return f"""CASE WHEN {x} >= 32768
                         THEN {x} - 65536
                         ELSE {x} END"""


def digest_image_oracle(wmod: int, hmod: int) -> str:
    """DuckDB twin of _digest_image_decode for a given dimension pair:
    pixel byte j of the row-major RGB array is the text-md5 digest at
    j mod 16, so per-channel means are pure digest arithmetic."""
    wh = f"(doc_id % {wmod}) + 1 AS w, (doc_id % {hmod}) + 1 AS hh"
    return f"""
    WITH {md5_digest(cols="w, hh", base_cols=wh)}
    SELECT doc_id AS media_id,
           w::int AS width, hh::int AS height,
           (w * hh)::bigint AS n_pixels,
           round(list_sum(list_transform(range(w*hh),
               i -> d[(3*i) % 16 + 1]))::double / (w*hh), 6) AS mean_r,
           round(list_sum(list_transform(range(w*hh),
               i -> d[(3*i + 1) % 16 + 1]))::double / (w*hh), 6) AS mean_g,
           round(list_sum(list_transform(range(w*hh),
               i -> d[(3*i + 2) % 16 + 1]))::double / (w*hh), 6) AS mean_b
    FROM dg
    """


#: CTEs ``allb`` and ``cand`` and the final SELECT: the doc pairs that share a
#: 16-bit dHash ``bands`` band and differ in at most 12 of the 64 bits.
DHASH_NEAR_PAIRS = """allb AS (
      SELECT doc_id, list(band ORDER BY i) AS bl FROM bands
      GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_l, b.doc_id AS doc_r
      FROM bands a
      JOIN bands b ON a.i = b.i AND a.band = b.band
                  AND a.doc_id < b.doc_id)
    SELECT c.doc_l, c.doc_r,
           (bit_count(xor(la.bl[1], lb.bl[1]))
            + bit_count(xor(la.bl[2], lb.bl[2]))
            + bit_count(xor(la.bl[3], lb.bl[3]))
            + bit_count(xor(la.bl[4], lb.bl[4])))::BIGINT AS hamming
    FROM cand c
    JOIN allb la ON c.doc_l = la.doc_id
    JOIN allb lb ON c.doc_r = lb.doc_id
    WHERE (bit_count(xor(la.bl[1], lb.bl[1]))
           + bit_count(xor(la.bl[2], lb.bl[2]))
           + bit_count(xor(la.bl[3], lb.bl[3]))
           + bit_count(xor(la.bl[4], lb.bl[4]))) <= 12"""

# ---------------------------------------------------------------------------
# MPEG audio Layers I-III
# ---------------------------------------------------------------------------

#: Layer II quantization classes (ISO 11172-3 Table 3-B.2a): the number
#: of ``steps`` of allocation ``a`` in subband ``sb``.
L2_STEPS = """(CASE WHEN sb < 3
                   THEN [3,7,15,31,63,127,255,511,1023,2047,4095,8191,16383,32767,65535]
                   WHEN sb < 11
                   THEN [3,5,7,9,15,31,63,127,255,511,1023,2047,4095,8191,65535]
                   WHEN sb < 23 THEN [3,5,7,9,15,31,65535]
                   ELSE [3,5,65535] END)[a] AS steps"""

#: The three effective Layer II scalefactors ``eff`` of scfsi pattern
#: ``scfsi`` over the transmitted ``s0``, ``s1``, ``s2``.
SCFSI_EFF = """(CASE scfsi WHEN 0 THEN [s0,s1,s2] WHEN 1 THEN [s0,s0,s2]
                         WHEN 2 THEN [s0,s0,s0] ELSE [s0,s1,s1] END) AS eff"""

#: ``nb`` bits and requantizer offset ``dd`` of the 3/5/7-step classes.
L2_NB_357 = """(CASE steps WHEN 3 THEN 2 ELSE 3 END) AS nb,
             (CASE steps WHEN 7 THEN 0.25 ELSE 0.5 END) AS dd"""


def l1_micro(code: str) -> str:
    """A Layer I sample requantized (x 1e6, BIGINT ``micro``): the
    ``a + 1``-bit sample ``code`` at scalefactor index ``l1scf``."""
    return f"""CAST(round((2.0 * pow(2.0, -l1scf/3.0)
                   * ((1::BIGINT << (a + 1))
                      / (((1::BIGINT << (a + 1)) - 1)::DOUBLE))
                   * ((({code})
                       % ((1::BIGINT << (a + 1)) - 1))
                      / ((1::BIGINT << a)::DOUBLE)
                      - 1.0 + pow(2.0, -a::DOUBLE))) * 1000000.0)
                  AS BIGINT) AS micro"""


def l2_micro(code: str) -> str:
    """A Layer II sample requantized (x 1e6, BIGINT ``micro``): the
    ``nb``-bit, ``steps``-level sample ``code`` at the scalefactor of
    its third of the frame, ``eff[i // 12 + 1]``."""
    return f"""CAST(round((2.0 * pow(2.0, -(eff[i // 12 + 1])/3.0)
                   * ((1::BIGINT << nb) / (steps::DOUBLE))
                   * (({code})
                      / ((1::BIGINT << (nb - 1))::DOUBLE)
                      - 1.0 + dd)) * 1000000.0) AS BIGINT) AS micro"""


#: Sample count, sum and peak of the requantized samples ``micro`` of a stream.
MICRO_TOTALS = """count(*) AS n_active_samples,
             sum(micro)::BIGINT AS sum_micro,
             max(abs(micro))::BIGINT AS max_abs_micro"""

#: The per-stream totals of the MPEG audio oracles: the ``agg`` row of
#: each ``cfg`` stream, zero where no subband was active.
MPEG_AGG_COLS = """coalesce(a.n_active_sb, 0)::BIGINT AS n_active_sb,
           coalesce(a.n_active_samples, 0)::BIGINT AS n_active_samples,
           coalesce(a.sum_micro, 0)::BIGINT AS sum_micro,
           coalesce(a.max_abs_micro, 0)::BIGINT AS max_abs_micro
    FROM cfg c LEFT JOIN agg a ON c.doc_id = a.doc_id"""

#: ISO 11172-3 Table 3-B.3 half-prototype numerators (x 65536) as a
#: SQL list literal, shared by the oracles that replay the synthesis
#: window (multimodal_mpeg_pcm_synthesis, multimodal_mp3_full_decode) so
#: a coefficient correction cannot fork the two; each rendered oracle
#: still embeds the full literal, so a single wrong coefficient breaks
#: its hash. Canonical table and provenance:
#: multimodal/mpegaudio._TABLE_3B3_HALF, pinned numerically equal in
#: tests/test_mpegaudio_synthesis.py::test_sql_window_literal_matches_table.
TABLE_3B3_SQL = """([0,-1,-1,-1,-1,-1,-1,-2,-2,-2,
                 -2,-3,-3,-4,-4,-5,-5,-6,-7,-7,
                 -8,-9,-10,-11,-13,-14,-16,-17,-19,-21,
                 -24,-26,-29,-31,-35,-38,-41,-45,-49,-53,
                 -58,-63,-68,-73,-79,-85,-91,-97,-104,-111,
                 -117,-125,-132,-139,-147,-154,-161,-169,-176,-183,
                 -190,-196,-202,-208,-213,-218,-222,-225,-227,-228,
                 -228,-227,-224,-221,-215,-208,-200,-189,-177,-163,
                 -146,-127,-106,-83,-57,-29,2,36,72,111,
                 153,197,244,294,347,401,459,519,581,645,
                 711,779,848,919,991,1064,1137,1210,1283,1356,
                 1428,1498,1567,1634,1698,1759,1817,1870,1919,1962,
                 2001,2032,2057,2075,2085,2087,2080,2063,2037,2000,
                 1952,1893,1822,1739,1644,1535,1414,1280,1131,970,
                 794,605,402,185,-45,-288,-545,-814,-1095,-1388,
                 -1692,-2006,-2330,-2663,-3004,-3351,-3705,-4063,-4425,-4788,
                 -5153,-5517,-5879,-6237,-6589,-6935,-7271,-7597,-7910,-8209,
                 -8491,-8755,-8998,-9219,-9416,-9585,-9727,-9838,-9916,-9959,
                 -9966,-9935,-9863,-9750,-9592,-9389,-9139,-8840,-8492,-8092,
                 -7640,-7134,-6574,-5959,-5288,-4561,-3776,-2935,-2037,-1082,
                 -70,998,2122,3300,4533,5818,7154,8540,9975,11455,
                 12980,14548,16155,17799,19478,21189,22929,24694,26482,28289,
                 30112,31947,33791,35640,37489,39336,41176,43006,44821,46617,
                 48390,50137,51853,53534,55178,56778,58333,59838,61289,62684,
                 64019,65290,66494,67629,68692,69679,70590,71420,72169,72835,
                 73415,73908,74313,74630,74856,74992,75038
                ])"""

#: The per-stream PCM sample count, sums and peak (x 1e6) of ``outp``.
PCM_STATS = """micro AS (
      SELECT doc_id, round(pcm * 1000000.0)::BIGINT AS m FROM outp)
    SELECT doc_id AS media_id,
           count(*)::BIGINT AS n_samples,
           sum(m)::BIGINT AS sum_pcm_micro,
           sum(abs(m))::BIGINT AS sum_abs_micro,
           max(abs(m))::BIGINT AS max_abs_micro
    FROM micro GROUP BY doc_id"""

#: CTE ``bounds``: the raw region 1/2 starts ``r1raw``/``r2raw`` of each granule,
#: at the long scalefactor band edges (44.1 kHz, Table B.8).
MP3_REGION_BOUNDS = """bounds AS (
      SELECT *,
             ([0,4,8,12,16,20,24,30,36,44,52,62,74,90,110,134,162,
               196,238,288,342,418,576])[least(r0c + 1, 22) + 1]
               AS r1raw,
             ([0,4,8,12,16,20,24,30,36,44,52,62,74,90,110,134,162,
               196,238,288,342,418,576])[least(r0c + r1c + 2, 22) + 1]
               AS r2raw
      FROM params)"""

#: Quantized MP3 values ``vl``/``vr`` of both channels: line pairs of
#: 0..2 magnitudes with a sign, up to the ``np_l``/``np_r`` big-value pairs.
MP3_STEREO_VALUES = """CASE WHEN l >= 2*np_l THEN 0 ELSE
               (CASE WHEN l % 2 = 0
                 THEN ((d[(((l//2)*3 + gr + 4) % 16) + 1] + l//2) % 3)
                    * (CASE WHEN (d[(((l//2) + 9) % 16) + 1]
                                  + l//2 + gr) % 2 = 1
                       THEN -1 ELSE 1 END)
                 ELSE ((d[(((l//2)*5 + gr + 6) % 16) + 1]
                        + 2*(l//2)) % 3)
                    * (CASE WHEN (d[(((l//2) + 12) % 16) + 1]
                                  + l//2 + gr) % 2 = 1
                       THEN -1 ELSE 1 END) END) END AS vl,
             CASE WHEN l >= 2*np_r THEN 0 ELSE
               (CASE WHEN l % 2 = 0
                 THEN ((d[(((l//2)*7 + gr + 3) % 16) + 1] + l//2) % 3)
                    * (CASE WHEN (d[(((l//2) + 8) % 16) + 1]
                                  + l//2 + gr) % 2 = 1
                       THEN -1 ELSE 1 END)
                 ELSE ((d[(((l//2)*9 + gr + 5) % 16) + 1]
                        + 2*(l//2)) % 3)
                    * (CASE WHEN (d[(((l//2) + 11) % 16) + 1]
                                  + l//2 + gr) % 2 = 1
                       THEN -1 ELSE 1 END) END) END AS vr"""

#: The per-stream row of the MP3 stereo oracles over ``lr``'s left and
#: right line values ``ml``/``mr`` (x 1e6).
MP3_STEREO_STATS = """SELECT doc_id AS media_id,
           count(*) FILTER (WHERE ml <> 0 OR mr <> 0)::BIGINT
             AS n_lines,
           sum(ml)::BIGINT AS sum_l_micro,
           sum(abs(ml))::BIGINT AS sum_abs_l_micro,
           max(abs(ml))::BIGINT AS max_abs_l_micro,
           sum(mr)::BIGINT AS sum_r_micro,
           sum(abs(mr))::BIGINT AS sum_abs_r_micro,
           max(abs(mr))::BIGINT AS max_abs_r_micro
    FROM lr GROUP BY doc_id"""

# ---------------------------------------------------------------------------
# Text: tokens, shingles, near-duplicates and corpus samples
# ---------------------------------------------------------------------------

#: CTE ``toks``: each document's lower-cased text split on whitespace, ``w``.
TOKS = r"""toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents)"""

#: The distinct word 3-shingles of the token list ``w`` (the whole text
#: when it has fewer than 3 words).
SHINGLE_SET = """CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE list_distinct(list_transform(range(len(w) - 2),
                         i -> concat(w[i+1], ' ', w[i+2], ' ', w[i+3])))
             END"""


def shingle_inter(toks: str = "toks", where: str = "") -> str:
    """CTEs ``shl``, ``sh`` (doc_id, shingle ``s``), ``sizes`` (shingles
    per doc, ``n``) and ``inter`` (shared shingles ``n_inter`` of each
    doc pair ``id_a``, ``id_b``) over the token lists of CTE ``toks``.
    The pairs are ``id_a < id_b``, or those matching ``where``."""
    pairs = f"\n      WHERE {where}" if where else " AND a.doc_id < b.doc_id"
    return f"""shl AS (
      SELECT doc_id,
             {SHINGLE_SET} AS shingles
      FROM {toks}),
    sh AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT doc_id, unnest(shingles) AS s FROM shl)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s{pairs}
      GROUP BY 1, 2)"""


#: Keeps the ``inter`` pairs whose shingle Jaccard is at least 0.5.
JACCARD_FILTER = """JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE n_inter::double / (sa.n + sb.n - n_inter) >= 0.5"""


def near_dup_pairs(where: str = "") -> str:
    """A whole oracle: the doc pairs of ``shingle_inter(where=where)``
    with their shingle Jaccard, where it is at least 0.5."""
    return f"""
    WITH {TOKS},
    {shingle_inter(where=where)}
    SELECT id_a, id_b,
           round(n_inter::double / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE n_inter::double / (sa.n + sb.n - n_inter) >= 0.5
    """


#: Recursive CTEs up to ``comp(node, component)``: the connected
#: components of the near-duplicate graph, labelled by their least doc_id.
NEAR_DUP_COMPONENTS = f"""{TOKS},
    {shingle_inter()},
    pairs AS (
      SELECT id_a, id_b FROM inter
      {JACCARD_FILTER}),
    und AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    walk(node, lab) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, w.lab FROM walk w JOIN und u ON w.node = u.a),
    comp AS (SELECT node, min(lab) AS component FROM walk GROUP BY 1)"""

#: A document's non-empty whitespace tokens, ``tk``.
TK = r"""list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         x -> x <> '') AS tk"""

#: CTEs ``toks`` to ``isl``: each token position that starts a 5-token window
#: seen twice in the corpus, numbered by ``island`` of overlapping windows.
REPEATED_SPAN_ISLANDS = f"""toks AS (
      SELECT doc_id,
             {TK}
      FROM documents),
    grams AS (
      SELECT doc_id, i AS pos, md5(array_to_string(tk[i+1 : i+5], ' ')) AS gk
      FROM toks, unnest(range(len(tk) - 5 + 1)) AS u(i)
      WHERE len(tk) >= 5),
    dup AS (SELECT gk FROM grams GROUP BY gk HAVING count(*) >= 2),
    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gk)),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM hits),
    isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos - prev > 5 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM lagged)"""

#: Every non-empty lower-case alphanumeric term ``tt.term`` of the corpus.
TERMS = """FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tt(term)
        WHERE tt.term <> ''"""

#: The corpus terms that make up more than 1/41 of all terms.
HEAVY_HITTERS = f"""
    WITH toks AS (
        SELECT tt.term
        {TERMS}
    ),
    tf AS (SELECT term, count(*)::BIGINT AS freq FROM toks GROUP BY 1),
    tot AS (SELECT count(*)::BIGINT AS total FROM toks)
    SELECT term, freq
    FROM tf CROSS JOIN tot
    WHERE freq * 41 > total
    """


def doc_sample(where: str) -> str:
    """CTE ``src``: doc_id, text and lang (NULLs as '') of the documents
    matching ``where``."""
    return f"""src AS (
      SELECT doc_id, coalesce(text, '') AS text,
             coalesce(lang, '') AS lang
      FROM documents WHERE {where})"""


#: Documents, text bytes and doc_id checksum of each ``src`` language.
LANG_DOC_STATS = """SELECT lang, count(*)::BIGINT AS n_docs,
           sum(strlen(text))::BIGINT AS sum_bytes,
           sum(doc_id)::BIGINT AS sum_doc_id"""

# ---------------------------------------------------------------------------
# Orders in integer cents: the lake and file-format round trips
# ---------------------------------------------------------------------------

#: An order's total price in integer cents.
CENTS = "(round(o_totalprice * 100, 0))::BIGINT"

#: Every order's key ``k`` and price ``cents``.
ORDER_CENTS = f"""SELECT o_orderkey AS k,
             {CENTS} AS cents
      FROM orders"""

#: Every order's key ``k``, ``status`` and price ``cents``.
ORDER_STATUS_CENTS = f"""SELECT o_orderkey AS k, o_orderstatus AS status,
             {CENTS} AS cents"""

#: Rows, key sum, cents and priority length of each key-mod-8 order bucket.
ORDER_BUCKET_STATS = f"""
    SELECT (o_orderkey % 8)::BIGINT AS bucket,
           count(*)::BIGINT AS n_rows,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum({CENTS})::BIGINT
             AS sum_cents,
           sum(strlen(o_orderpriority))::BIGINT AS sum_prio_len
    FROM orders GROUP BY bucket
    """

#: Rows, key and cents sums by status of a feed of all orders plus two
#: appended re-deliveries (open even keys, finished keys divisible by 5).
ORDER_FEED_BY_STATUS = f"""
    WITH feed AS (
      SELECT o_orderkey, o_orderstatus,
             {CENTS} AS cents
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
             {CENTS}
      FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
             {CENTS}
      FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0
    )
    SELECT o_orderstatus AS status, count(*)::BIGINT AS n_rows,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM feed GROUP BY status
    """

#: Value count and checksum of four order columns, one row per column.
ORDER_COLUMN_CHECKSUMS = f"""
    WITH src AS (
      SELECT o_orderkey,
             o_orderkey % 997 AS v_small,
             o_orderstatus,
             {CENTS} AS cents
      FROM orders)
    SELECT 'cents' AS col, count(cents)::BIGINT AS n_values,
           sum(cents)::BIGINT AS checksum FROM src
    UNION ALL
    SELECT 'o_orderkey', count(o_orderkey)::BIGINT,
           sum(o_orderkey)::BIGINT FROM src
    UNION ALL
    SELECT 'o_orderstatus', count(o_orderstatus)::BIGINT,
           sum(strlen(o_orderstatus))::BIGINT FROM src
    UNION ALL
    SELECT 'v_small', count(v_small)::BIGINT,
           sum(v_small)::BIGINT FROM src
    """

#: Key-mod-4 order buckets at snapshot 1 and at snapshot 2, after every
#: order whose key is divisible by 7 is deleted.
ORDERS_SEVENTH_DELETED = f"""
    WITH b AS (
      SELECT o_orderkey, (o_orderkey % 4)::BIGINT AS bucket,
             {CENTS} AS cents
      FROM orders
    )
    SELECT 1::BIGINT AS snap, bucket, count(*)::BIGINT AS n_orders,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM b GROUP BY bucket
    UNION ALL
    SELECT 2::BIGINT, bucket, count(*)::BIGINT,
           sum(o_orderkey)::BIGINT, sum(cents)::BIGINT
    FROM b WHERE o_orderkey % 7 <> 0 GROUP BY bucket
    """

#: CTEs ``b`` to ``v1``: every tenth order in the lowest quarter of keys
#: updated (+100 cents), and every 97th order re-inserted under a new key.
ORDER_UPSERT = f"""b AS (
      {ORDER_CENTS}
    ), m AS (SELECT max(k) AS mx FROM b),
    upd AS (SELECT k FROM b, m WHERE k % 10 = 0 AND k <= mx // 4),
    ins AS (
      SELECT k + 2000000000 AS k, cents + 9 AS cents
      FROM b WHERE k % 97 = 0
    ), v1 AS (
      SELECT k,
             CASE WHEN k IN (SELECT k FROM upd)
                  THEN cents + 100 ELSE cents END AS cents
      FROM b
      UNION ALL SELECT * FROM ins
    )"""

#: Per-status order counts and sums of the ``latestc`` and ``v1c`` table
#: versions, and the fixed layout row.
CHECKPOINT_PHASES = f"""SELECT 'latest' AS phase, o_orderstatus AS status,
           count(*)::BIGINT AS n_orders,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum({CENTS})::BIGINT
             AS sum_cents
    FROM latestc GROUP BY status
    UNION ALL
    SELECT 'v1', o_orderstatus, count(*)::BIGINT,
           sum(o_orderkey)::BIGINT,
           sum({CENTS})::BIGINT
    FROM v1c GROUP BY o_orderstatus
    UNION ALL
    SELECT 'layout', '_', 3::BIGINT, 1::BIGINT, 5::BIGINT"""

# ---------------------------------------------------------------------------
# Embeddings
# ---------------------------------------------------------------------------

#: The cosine similarity of the embedding lists ``qe`` and ``ce``.
COSINE = """list_sum(list_transform(range(len(qe)),
                      i -> qe[i+1]::double * ce[i+1]::double))
             / (sqrt(list_sum(list_transform(range(len(qe)),
                      i -> qe[i+1]::double * qe[i+1]::double)))
                * sqrt(list_sum(list_transform(range(len(ce)),
                      i -> ce[i+1]::double * ce[i+1]::double)))) AS cosine"""

#: CTEs ``scored`` (the cosine of every ``pairs`` row) and ``ranked``
#: (each query's neighbours by descending 6-digit cosine, then id).
COSINE_RANKED = f"""scored AS (
      SELECT query_id, neighbor_id,
             {COSINE}
      FROM pairs),
    ranked AS (
      SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cosine, 6) DESC, neighbor_id) AS rank
      FROM scored)"""

#: The 5 nearest embeddings by cosine of each of the vectors 0-9.
COSINE_TOP5 = f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.embedding AS qe, c.embedding AS ce
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
    {COSINE_RANKED}
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """

#: The recall row of the ten query vectors, each with its 5 exact neighbours.
LSH_RECALL_OK = """
    SELECT vec_id AS query_id, 5 AS n_exact, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """

# ---------------------------------------------------------------------------
# Events, graphs, geometry and quads
# ---------------------------------------------------------------------------


def click_view_join(join: str) -> str:
    """A whole oracle: each click ``join`` (``JOIN``, ``LEFT JOIN`` or
    ``FULL JOIN``) the same user's views in the 6 hours before it."""
    user = (
        "\n           coalesce(c.user_id, v.user_id) AS user_id"
        if join == "FULL JOIN"
        else " c.user_id AS user_id"
    )
    return f"""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
         v AS (SELECT event_id AS view_id, user_id, ts AS view_ts, value
               FROM events WHERE event_type = 'view')
    SELECT c.click_id, v.view_id,{user},
           strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(v.view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
           round(v.value, 4) AS view_value
    FROM c {join} v
      ON c.user_id = v.user_id
     AND v.view_ts BETWEEN c.click_ts - INTERVAL 6 HOUR AND c.click_ts
    """


#: Each user's latest event by whole second, then event id.
LATEST_EVENT_PER_USER = """
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           floor(epoch(ts))::bigint AS ts_sec
    FROM (SELECT user_id, event_id, event_type, ts,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY floor(epoch(ts))::bigint DESC,
                                             event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """

#: Every customer's root (keys below 8) and depth in the key // 8 tree.
HIERARCHY_ROOTS = """
    WITH RECURSIVE r(id, root_id, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 8
      UNION ALL
      SELECT c.c_custkey, r.root_id, r.depth + 1
      FROM customer c JOIN r ON (c.c_custkey // 8) = r.id
      WHERE c.c_custkey >= 8
    )
    SELECT id, root_id, depth FROM r
    """

#: Distance from point (``px``, ``py``) to the segment (``ax``, ``ay``)-(``bx``,
#: ``by``), a ``str.format`` template over six SQL expressions.
SEGDIST = """
    CASE WHEN ((({bx}) - ({ax})) ^ 2 + (({by}) - ({ay})) ^ 2) = 0
         THEN sqrt((({px}) - ({ax})) ^ 2 + (({py}) - ({ay})) ^ 2)
         ELSE sqrt(
           (({px}) - (({ax}) + least(1.0, greatest(0.0,
              ((({px}) - ({ax})) * (({bx}) - ({ax})) + (({py}) - ({ay})) * (({by}) - ({ay})))
              / ((({bx}) - ({ax})) ^ 2 + (({by}) - ({ay})) ^ 2))) * (({bx}) - ({ax})))) ^ 2
           + (({py}) - (({ay}) + least(1.0, greatest(0.0,
              ((({px}) - ({ax})) * (({bx}) - ({ax})) + (({py}) - ({ay})) * (({by}) - ({ay})))
              / ((({bx}) - ({ax})) ^ 2 + (({by}) - ({ay})) ^ 2))) * (({by}) - ({ay})))) ^ 2)
    END"""

#: CTEs ``src``/``geo`` and the select items up to ``brand``: every fifth part
#: as a point (even keys) or a two-point polyline, as WKT.
PART_SHAPES = """src AS (
      SELECT p_partkey AS pk, p_brand, p_type
      FROM part WHERE p_partkey % 5 = 0),
    geo AS (
      SELECT pk, p_brand, p_type,
             ((pk % 1440)::DOUBLE * 0.25 - 180) AS x,
             ((pk % 680)::DOUBLE * 0.25 - 85) AS y
      FROM src)
    SELECT pk,
           CASE WHEN pk % 2 = 0 THEN 'point' ELSE 'polyline' END AS shape_type,
           CASE WHEN pk % 2 = 0
                THEN 'POINT (' || x::VARCHAR || ' ' || y::VARCHAR || ')'
                ELSE 'LINESTRING (' || x::VARCHAR || ' ' || y::VARCHAR || ', '
                     || (x + 1.5)::VARCHAR || ' ' || (y + 0.75)::VARCHAR || ')'
           END AS wkt,
           trim(substr(p_brand, 1, 10)) AS brand"""

#: CTE ``quads``: each customer's type, name and nation quads, plus a credit
#: score quad where the balance is positive.
CUSTOMER_QUADS = """quads AS (
      SELECT concat('https://example.org/customer/', c_custkey) AS subject,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
             'https://schema.org/Person' AS object_value,
             'iri' AS object_kind
      FROM customer
      UNION ALL
      SELECT concat('https://example.org/customer/', c_custkey),
             'https://schema.org/name', c_name, 'literal'
      FROM customer
      UNION ALL
      SELECT concat('https://example.org/customer/', c_custkey),
             'https://example.org/def/nation',
             concat('https://example.org/nation/', c_nationkey), 'iri'
      FROM customer
      UNION ALL
      SELECT concat('https://example.org/customer/', c_custkey),
             'https://schema.org/creditScore', round(c_acctbal, 2)::varchar, 'literal'
      FROM customer WHERE c_acctbal > 0
    )"""

#: CTEs ``addresses`` (one synthetic address per order) and ``sites``.
ADDRESS_SITES = """addresses AS (
      SELECT o_orderkey::varchar AS addr_id,
             o_custkey::varchar AS site_id,
             (o_orderkey % 100)::varchar AS road_id,
             CASE WHEN o_orderstatus = 'P' THEN 'H'
                  WHEN o_orderstatus = 'F' THEN 'C' ELSE 'A' END AS st,
             CASE WHEN o_orderkey % 3 = 0 THEN (o_orderkey % 50 + 1)::varchar END AS unit_no,
             (o_orderkey % 300 + 1)::varchar AS street_no_first,
             CASE WHEN o_orderkey % 5 = 0 THEN (o_orderkey % 300 + 3)::varchar END AS street_no_last
      FROM orders),
    sites AS (SELECT c_custkey::varchar AS site_id, c_nationkey::varchar AS parcel_id FROM customer)"""
