"""Driver-harness query registry: every entry pairs a PySpark
implementation with an equivalent DuckDB SQL oracle over the driver's
parquet tables (documents / embeddings / events).

Design rules that make the cross-engine value-hash match exactly:
  * every hash is ``md5_64`` (xhash.py) — identical in Spark and DuckDB;
  * ratios are divisions of identical integers → IEEE-identical doubles;
  * floating sums use sequential folds on both sides (F.aggregate vs
    list_dot_product) and are rounded before output;
  * timestamps leave as floor-epoch BIGINTs under an explicit UTC
    session timezone (DuckDB's ``epoch()::BIGINT`` *rounds* — floor is
    required);
  * every aggregate is aliased identically on both sides, counts cast
    to BIGINT (DuckDB sum(int) is HUGEINT otherwise).

The crawl-family queries derive a deterministic URL frontier from the
``documents`` table (platform = doc_id % 11 over the 11 reference
dialects), so the scheduling operators are checked end-to-end against
an independent SQL re-derivation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonical import PLATFORMS, with_url_identity
from .functions import textops as TX
from .functions.markdown import render_markdown
from .operators import classify as CLS
from .operators import clustering as CLU
from .operators import corpusprep as CP
from .operators import curation as CUR
from .operators import lmscore as LM
from .operators import dedup as DD
from .operators import events as EV
from .operators import postings as PT
from .operators import profiling as PF
from .operators import retrieval as RET
from .operators import sampling as SMP
from .operators import similarity as SIM
from .operators import sketches as SK
from .operators import tokenizer as BPE
from .operators import webgraph as WG
from .operators.multimodal import decode_media
from .operators.scheduling import apply_robots, budget_gate, dedup_within_round
from .operators.seen import filter_unseen, fold_sidecar, seen_key
from .synth import URL_SHAPES
from .xhash import md5_64, md5_64_sql

# ---------------------------------------------------------------------------
# Shared derivations (single source of truth for both engines)
# ---------------------------------------------------------------------------

# article_id = AID_FORM[p][0] || %08d(art) || AID_FORM[p][1]  (from URL_SHAPES)
AID_FORM: dict[str, tuple[str, str]] = {
    "toutiao": ("74", ""),
    "wechat": ("SSg", "abc"),
    "netease": ("KC", "FH"),
    "sohu": ("94", ""),
    "tencent": ("2025", "A07W"),
    "detik": ("d-", ""),
    "naver": ("22", ""),
    "lenny": ("post-", ""),
    "quora": ("Someone-", ""),
    "bbc": ("c", "o"),
    "cnn": ("story-", ""),
}

def _capacity(p_idx: int) -> int:
    return 3 + (p_idx % 5) * 2


def _doc(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -- Spark-side frontier from documents -------------------------------------

def doc_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = _doc(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("rid")
    )
    art = F.when((F.col("rid") % 10 == 7) & (F.col("rid") > 0), F.col("rid") - 1).otherwise(
        F.col("rid")
    )
    df = ids.withColumn("art", art).withColumn("p", (F.col("art") % 11).cast("int"))
    aid8 = F.format_string("%08d", F.col("art"))
    url = None
    for i, plat in enumerate(PLATFORMS):
        pre, post = URL_SHAPES[plat][1].split("{id}")
        u = F.concat(F.lit(pre), aid8, F.lit(post))
        url = F.when(F.col("p") == i, u) if url is None else url.when(F.col("p") == i, u)
    url = F.when(
        F.col("rid") % 20 == 3, F.concat(url, F.lit("?log_from=x"), F.col("rid"))
    ).otherwise(url)
    return df.select(
        F.col("rid"),
        F.col("art"),
        url.alias("url"),
        (F.col("rid") % 3).cast("int").alias("priority"),
        F.lit(0).alias("depth"),
        F.col("rid").alias("seq"),
        F.lit(0).alias("round_added"),
        F.lit(0).alias("attempt"),
        F.concat(F.lit("seed-"), F.col("rid")).alias("source_seed"),
    )


# -- SQL-side frontier CTE ---------------------------------------------------

def _case(col: str, exprs: list[str]) -> str:
    arms = " ".join(f"WHEN {i} THEN {e}" for i, e in enumerate(exprs))
    return f"CASE {col} {arms} END"


def _frontier_cte() -> str:
    urls, doms, plats, aids = [], [], [], []
    for plat in PLATFORMS:
        dom, tmpl = URL_SHAPES[plat]
        pre, post = tmpl.split("{id}")
        urls.append(f"'{pre}' || aid8 || '{post}'")
        doms.append(f"'{dom}'")
        plats.append(f"'{plat}'")
        a_pre, a_post = AID_FORM[plat]
        aid = f"'{a_pre}' || aid8"
        if a_post:
            aid += f" || '{a_post}'"
        aids.append(aid)
    caps = _case("p", [str(_capacity(i)) for i in range(len(PLATFORMS))])
    return f"""
ids AS (SELECT doc_id::BIGINT AS rid FROM documents),
fr0 AS (SELECT rid,
               CASE WHEN rid % 10 = 7 AND rid > 0 THEN rid - 1 ELSE rid END AS art
        FROM ids),
fr1 AS (SELECT rid, art, (art % 11)::INT AS p, printf('%08d', art) AS aid8 FROM fr0),
frontier AS (
  SELECT rid, art, p,
         {_case('p', urls)}
           || CASE WHEN rid % 20 = 3 THEN '?log_from=x' || rid ELSE '' END AS url,
         {_case('p', doms)} AS domain,
         {_case('p', plats)} AS platform,
         {_case('p', aids)} AS article_id,
         {_case('p', plats)} || ':' || {_case('p', aids)} AS canonical_url,
         (rid % 3)::INT AS priority, 0 AS depth, rid AS seq,
         {caps} AS capacity
  FROM fr1)
"""


# -- span synthesis (words of documents.text → interleaved spans) ------------

def doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded span rows: (doc_id, pos, kind, payload) — kind by
    position (image every 7th at %7==3, video at %13==5, else text);
    payload = word for text, derived media URL otherwise."""
    docs = _doc(spark, sf_dir, "documents")
    ws = TX.words("text")
    df = docs.select("doc_id", F.posexplode(ws).alias("pos", "word"))
    kind = (
        F.when(F.col("pos") % 7 == 3, F.lit("image"))
        .when(F.col("pos") % 13 == 5, F.lit("video"))
        .otherwise(F.lit("text"))
    )
    df = df.withColumn("kind", kind)
    payload = (
        F.when(F.col("kind") == "text", F.col("word"))
        .when(F.col("kind") == "image", F.concat(F.lit("https://img.cc/"), F.col("word"), F.lit(".jpg")))
        .otherwise(F.concat(F.lit("https://v.cc/"), F.col("word"), F.lit(".mp4")))
    )
    return df.select("doc_id", "pos", "kind", payload.alias("payload"))


SPANS_CTE = r"""
wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
sp0 AS (SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS pos FROM wl),
sp1 AS (SELECT doc_id, pos,
               CASE WHEN pos % 7 = 3 THEN 'image'
                    WHEN pos % 13 = 5 THEN 'video'
                    ELSE 'text' END AS kind, word
        FROM sp0),
spans AS (SELECT doc_id, pos, kind,
                 CASE kind WHEN 'text' THEN word
                           WHEN 'image' THEN 'https://img.cc/' || word || '.jpg'
                           ELSE 'https://v.cc/' || word || '.mp4' END AS payload
          FROM sp1)
"""

SHINGLE3_CTE = r"""
wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
sg0 AS (SELECT doc_id, ws, unnest(range(len(ws) - 2)) AS i FROM wl WHERE len(ws) >= 3),
sg1 AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s FROM sg0),
sh AS (SELECT DISTINCT doc_id, {h} AS sh FROM sg1)
""".format(h=md5_64_sql("s"))


# ---------------------------------------------------------------------------
# Crawl-family queries
# ---------------------------------------------------------------------------

def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = doc_frontier(spark, sf_dir)
    out = with_url_identity(fr)
    return out.select("url", "platform", "article_id", "canonical_url", "domain")


SQL_URL_CANONICALIZE = f"""
WITH {_frontier_cte()}
SELECT url, platform, article_id, canonical_url, domain FROM frontier
"""


def _identity_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_url_identity(doc_frontier(spark, sf_dir))


def q_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_within_round(_identity_frontier(spark, sf_dir)).select(
        "canonical_url", "url", "seq"
    )


SQL_FRONTIER_DEDUP = f"""
WITH {_frontier_cte()},
d AS (SELECT *, row_number() OVER (PARTITION BY canonical_url
                                   ORDER BY priority, depth, seq) AS rn
      FROM frontier)
SELECT canonical_url, url, seq FROM d WHERE rn = 1
"""


def _seen_table(spark: SparkSession, sf_dir: str, n_buckets: int = 16) -> DataFrame:
    fr = _identity_frontier(spark, sf_dir)
    url_hash, bucket = seen_key(n_buckets)
    return (
        fr.filter(F.col("art") % 2 == 0)
        .select("canonical_url")
        .distinct()
        .select(
            url_hash.alias("url_hash"),
            bucket.alias("bucket"),
            "canonical_url",
            F.lit(0).alias("round_seen"),
        )
    )


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned exact anti-join (J4) vs a seen-set of even article ids —
    checked against a plain NOT EXISTS in DuckDB (bloom must not change
    the result, only prune the probe)."""
    n_buckets, m_bits = 16, 1 << 16
    cand = dedup_within_round(_identity_frontier(spark, sf_dir))
    seen = _seen_table(spark, sf_dir, n_buckets)
    bloom = fold_sidecar(seen, None, "bloom", m_bits)
    out = filter_unseen(cand, seen, bloom, n_buckets)
    return out.select("canonical_url", "domain", "seq")


def q_seen_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuckoo-filter variant of the seen prune (the north star's
    'bloom/cuckoo' other half, operators/cuckoo.py): build the
    fingerprint tables from the seen set, DELETE half of it (the forced
    re-crawl path bloom cannot express), then probe+anti-join.  The
    oracle is the plain relational anti-join against the same
    post-deletion seen set — the filter must prune without changing
    the result."""
    from .operators.cuckoo import delete_cuckoo

    n_buckets = 16
    fr = _identity_frontier(spark, sf_dir)
    cand = dedup_within_round(fr)
    seen = _seen_table(spark, sf_dir, n_buckets)
    # un-see every fourth article id (art%2=0 built the seen set, so
    # art%4=0 deletes half of it; survivors are art%4=2)
    url_hash, bucket = seen_key(n_buckets)
    removals = (
        fr.filter(F.col("art") % 4 == 0)
        .select("canonical_url")
        .distinct()
        .select(url_hash.alias("url_hash"), bucket.alias("bucket"))
    )
    filt = delete_cuckoo(fold_sidecar(seen, None, "cuckoo", 1024), removals)
    remaining_seen = seen.join(
        removals.select("url_hash", "bucket"), ["url_hash", "bucket"], "left_anti"
    )
    out = filter_unseen(cand, remaining_seen, filt, n_buckets, "cuckoo")
    return out.select("canonical_url", "domain", "seq")


SQL_SEEN_CUCKOO = f"""
WITH {_frontier_cte()},
d AS (SELECT *, row_number() OVER (PARTITION BY canonical_url
                                   ORDER BY priority, depth, seq) AS rn
      FROM frontier),
cand AS (SELECT * FROM d WHERE rn = 1),
seen AS (SELECT DISTINCT canonical_url FROM frontier WHERE art % 4 = 2)
SELECT c.canonical_url, c.domain, c.seq
FROM cand c WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.canonical_url = c.canonical_url)
"""


SQL_SEEN_ANTIJOIN = f"""
WITH {_frontier_cte()},
d AS (SELECT *, row_number() OVER (PARTITION BY canonical_url
                                   ORDER BY priority, depth, seq) AS rn
      FROM frontier),
cand AS (SELECT * FROM d WHERE rn = 1),
seen AS (SELECT DISTINCT canonical_url FROM frontier WHERE art % 2 = 0)
SELECT c.canonical_url, c.domain, c.seq
FROM cand c WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.canonical_url = c.canonical_url)
"""


def _budget_tables(spark: SparkSession):
    from . import schema

    budgets = spark.createDataFrame(
        [
            (URL_SHAPES[p][0], _capacity(i), 60, 0.0)
            for i, p in enumerate(PLATFORMS)
        ],
        schema.BUDGETS,
    )
    robots = spark.createDataFrame(
        [(URL_SHAPES[p][0], "/", p != "quora", 0.0) for p in PLATFORMS],
        schema.ROBOTS,
    )
    return budgets, robots


def _scheduled(spark: SparkSession, sf_dir: str):
    """Full one-round scheduling chain: dedup → seen anti-join → robots →
    budget gate.  Returns (eligible, deferred)."""
    n_buckets, m_bits = 16, 1 << 16
    cand = dedup_within_round(_identity_frontier(spark, sf_dir))
    seen = _seen_table(spark, sf_dir, n_buckets)
    bloom = fold_sidecar(seen, None, "bloom", m_bits)
    unseen = filter_unseen(cand, seen, bloom, n_buckets)
    budgets, robots = _budget_tables(spark)
    allowed, _denied = apply_robots(unseen, robots)
    return budget_gate(allowed, budgets)


def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    eligible, _ = _scheduled(spark, sf_dir)
    return eligible.select("domain", "canonical_url", F.col("rank").cast("int").alias("rank"))


_SQL_SCHED_BASE = f"""
WITH {_frontier_cte()},
d AS (SELECT *, row_number() OVER (PARTITION BY canonical_url
                                   ORDER BY priority, depth, seq) AS rn
      FROM frontier),
cand AS (SELECT * FROM d WHERE rn = 1),
seen AS (SELECT DISTINCT canonical_url FROM frontier WHERE art % 2 = 0),
unseen AS (SELECT c.* FROM cand c
           WHERE NOT EXISTS (SELECT 1 FROM seen s
                             WHERE s.canonical_url = c.canonical_url)),
allowed AS (SELECT * FROM unseen WHERE platform <> 'quora'),
ranked AS (SELECT *, (row_number() OVER (PARTITION BY domain
                                         ORDER BY priority, depth, seq))::INT AS rank
           FROM allowed)
"""

SQL_POLITENESS_SCHEDULE = (
    _SQL_SCHED_BASE
    + "SELECT domain, canonical_url, rank FROM ranked WHERE rank <= capacity"
)


def q_politeness_deferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, deferred = _scheduled(spark, sf_dir)
    return deferred.groupBy("domain").agg(F.count("*").alias("n_deferred"))


SQL_POLITENESS_DEFERRED = (
    _SQL_SCHED_BASE
    + """SELECT domain, count(*)::BIGINT AS n_deferred
FROM ranked WHERE rank > capacity GROUP BY domain"""
)


# ---------------------------------------------------------------------------
# Span-family queries (A1/A2/S9 relational forms)
# ---------------------------------------------------------------------------

def q_span_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = doc_spans(spark, sf_dir)
    agg = sp.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "text", 1).otherwise(0)).alias("n_text"),
        F.sum(F.when(F.col("kind") == "image", 1).otherwise(0)).alias("n_image"),
        F.sum(F.when(F.col("kind") == "video", 1).otherwise(0)).alias("n_video"),
        F.min_by(
            F.when(F.col("kind") == "image", F.col("payload")),
            F.when(F.col("kind") == "image", F.col("pos")),
        ).alias("first_image"),
    )
    return agg


SQL_SPAN_PROJECTIONS = f"""
WITH {SPANS_CTE},
agg AS (SELECT doc_id,
               sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END)::BIGINT AS n_text,
               sum(CASE WHEN kind = 'image' THEN 1 ELSE 0 END)::BIGINT AS n_image,
               sum(CASE WHEN kind = 'video' THEN 1 ELSE 0 END)::BIGINT AS n_video
        FROM spans GROUP BY doc_id),
img AS (SELECT doc_id, arg_min(payload, pos) AS first_image
        FROM spans WHERE kind = 'image' GROUP BY doc_id)
SELECT a.doc_id, a.n_text, a.n_image, a.n_video, i.first_image
FROM agg a LEFT JOIN img i USING (doc_id)
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (first-wins within-doc dedup on (kind, payload)) in its
    relational form: row_number over posexplode; kept_offsets_sum is
    order-sensitive so it proves *which* occurrence wins."""
    from pyspark.sql import Window

    sp = doc_spans(spark, sf_dir)
    w = Window.partitionBy("doc_id", "kind", "payload").orderBy(F.col("pos").asc())
    marked = sp.withColumn("rn", F.row_number().over(w))
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_before"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_after"),
        F.sum(F.when(F.col("rn") == 1, F.col("pos")).otherwise(0)).alias("kept_offsets_sum"),
    )


SQL_SPAN_DEDUP = f"""
WITH {SPANS_CTE},
m AS (SELECT doc_id, pos,
             row_number() OVER (PARTITION BY doc_id, kind, payload ORDER BY pos) AS rn
      FROM spans)
SELECT doc_id, count(*)::BIGINT AS n_before,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_after,
       sum(CASE WHEN rn = 1 THEN pos ELSE 0 END)::BIGINT AS kept_offsets_sum
FROM m GROUP BY doc_id
"""


def q_markdown_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 markdown view over the synthesized span documents (pure
    higher-order functions, no UDF)."""
    sp = doc_spans(spark, sf_dir)
    spans = sp.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("kind").alias("kind"),
                    F.when(F.col("kind") == "text", F.col("payload")).otherwise(F.lit("")).alias("text"),
                    F.when(F.col("kind") != "text", F.col("payload")).otherwise(F.lit("")).alias("media_ref"),
                    F.col("pos").cast("int").alias("offset"),
                )
            ),
            # sort by offset (struct field order puts kind first → explicit comparator)
            lambda a, b: F.when(a["offset"] < b["offset"], -1)
            .when(a["offset"] > b["offset"], 1)
            .otherwise(0),
        ).alias("spans")
    )
    title = F.concat(F.lit("Doc "), F.col("doc_id"))
    return spans.select(
        "doc_id", render_markdown(title, F.col("spans")).alias("markdown")
    )


SQL_MARKDOWN_RENDER = f"""
WITH {SPANS_CTE},
blocks AS (SELECT doc_id, pos,
                  CASE kind WHEN 'text' THEN payload
                            WHEN 'image' THEN '![图片](' || payload || ')'
                            ELSE '[🎬 视频](' || payload || ')' END AS block
           FROM spans)
SELECT doc_id,
       '# Doc ' || doc_id || e'\n\n' || string_agg(block, e'\n\n' ORDER BY pos) AS markdown
FROM blocks GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Dedup family (training-data ops)
# ---------------------------------------------------------------------------

def q_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/A7 — distinct media worklist over the synthesized span docs."""
    from .operators.projections import media_manifest

    sp = doc_spans(spark, sf_dir)
    docs = sp.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("kind").alias("kind"),
                F.when(F.col("kind") == "text", F.col("payload")).otherwise(F.lit("")).alias("text"),
                F.when(F.col("kind") != "text", F.col("payload")).otherwise(F.lit("")).alias("media_ref"),
                F.col("pos").cast("int").alias("offset"),
            )
        ).alias("spans")
    )
    return media_manifest(docs).withColumn(
        "n_refs", F.col("n_refs").cast("long")
    )


SQL_MEDIA_MANIFEST = f"""
WITH {SPANS_CTE}
SELECT payload AS media_ref, min(kind) AS kind,
       min(doc_id) AS first_doc_id, count(*)::BIGINT AS n_refs
FROM spans WHERE kind IN ('image', 'video')
GROUP BY payload
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_doc(spark, sf_dir, "documents"))


_NORM_TEXT_SQL = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"

SQL_DEDUP_EXACT = f"""
WITH n AS (SELECT doc_id,
                  {md5_64_sql(_NORM_TEXT_SQL)} AS fingerprint
           FROM documents)
SELECT min(doc_id) AS doc_id, fingerprint, count(*)::BIGINT AS dup_count
FROM n GROUP BY fingerprint
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.rolling_fingerprint("text", k=5).alias("fp"))


SQL_ROLLING_FINGERPRINT = r"""
WITH wl AS (SELECT doc_id, trim(text) AS t,
                   string_split_regex(trim(text), '\s+') AS ws FROM documents),
sg0 AS (SELECT doc_id, ws, unnest(range(len(ws) - 4)) AS i FROM wl WHERE len(ws) >= 5),
sg1 AS (SELECT doc_id, array_to_string(list_slice(ws, i + 1, i + 5), ' ') AS s FROM sg0),
mins AS (SELECT doc_id, min({h}) AS fp FROM sg1 GROUP BY doc_id)
SELECT w.doc_id, coalesce(m.fp, {ht}) AS fp
FROM wl w LEFT JOIN mins m USING (doc_id)
""".replace("{h}", md5_64_sql("s")).replace("{ht}", md5_64_sql("w.t"))


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import sys as _sys

    return DD.jaccard_pairs(
        _doc(spark, sf_dir, "documents"), k=3, threshold=0.05,
        log_fn=lambda m: print(m, file=_sys.stderr),
    )


def sql_jaccard_pairs(df_cutoff: int = DD.JACCARD_DF_CUTOFF,
                      threshold: float = 0.05) -> str:
    """DuckDB twin of operators.dedup.jaccard_pairs, parameterized on the
    SAME knobs: hot shingles (document frequency > df_cutoff) are dropped
    from the inverted index before candidate generation, but `common` is
    recomputed over the FULL shingle sets per surviving candidate pair.
    tests/test_training_ops.py runs both engines at df_cutoff=2 on a
    corpus with a known hot shingle, so the cutoff path itself is
    machine-checked, not just the cutoff-never-bites default."""
    return f"""
WITH {SHINGLE3_CTE},
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > {df_cutoff}),
kept AS (SELECT s.doc_id, s.sh FROM sh s ANTI JOIN hot h ON s.sh = h.sh),
cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM kept a JOIN kept b USING (sh)
          WHERE a.doc_id < b.doc_id),
pairs AS (SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS common
          FROM cands c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
          GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b, p.common, sa.sz AS size_a, sb.sz AS size_b,
       p.common / (sa.sz + sb.sz - p.common) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE p.common / (sa.sz + sb.sz - p.common) >= {threshold}
"""


SQL_JACCARD_PAIRS = sql_jaccard_pairs()


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_dedup(
        _doc(spark, sf_dir, "documents"), k=3, n_hashes=16, band_size=2, threshold=0.05
    )


def _sigs_cte(n_hashes: int = 16) -> str:
    """The shared `sigs` CTE — permuted minhash over sg1, the exact
    DuckDB twin of dedup.minhash_signatures: base hash once per
    shingle (md5_64 & 2^32-1), then n Carter-Wegman min-aggregates
    (same (a_j, b_j) table via xhash.minhash_consts)."""
    from .xhash import MINHASH_MASK, MINHASH_P, minhash_consts

    mins = ",\n         ".join(
        f"min((x * {a} + {b}) % {MINHASH_P}) AS h{j}"
        for j, (a, b) in enumerate(minhash_consts(n_hashes))
    )
    return (
        f"sigs AS (SELECT doc_id, {mins}\n"
        f"         FROM (SELECT doc_id, ({md5_64_sql('s')} & {MINHASH_MASK}) AS x"
        f" FROM sg1) GROUP BY doc_id)"
    )


def _minhash_ctes() -> str:
    """The shared CTE chain ending in `verified` = the MinHash→LSH→
    Jaccard-verified near-dup pairs (threshold 0.05) — used by both the
    minhash_lsh oracle and the dup_clusters recursive-CTE oracle."""
    keys = ", ".join(
        md5_64_sql(f"h{2 * b}::VARCHAR || '|' || h{2 * b + 1}::VARCHAR")
        for b in range(8)
    )
    return f"""{SHINGLE3_CTE},
{_sigs_cte()},
banded AS (SELECT doc_id,
                  unnest(range(8)) AS band,
                  unnest([{keys}]) AS key
           FROM sigs),
cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b USING (band, key)
          WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS common
          FROM sh a JOIN sh b USING (sh)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
verified AS (SELECT c.doc_a, c.doc_b,
                    p.common / (sa.sz + sb.sz - p.common) AS jaccard
             FROM cands c
             JOIN pairs p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
             JOIN sizes sa ON sa.doc_id = c.doc_a
             JOIN sizes sb ON sb.doc_id = c.doc_b
             WHERE p.common / (sa.sz + sb.sz - p.common) >= 0.05)"""


SQL_MINHASH_LSH = f"""
WITH {_minhash_ctes()}
SELECT doc_a, doc_b, jaccard FROM verified
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-batch near-dup (dedup.incremental_neardup):
    even doc_ids play the already-ingested corpus (band index +
    signature table), odd doc_ids the new batch; matches are
    batch-vs-history candidates sharing an LSH band with >= 3 of 16
    equal signature components.  Oracle recomputes the same thing
    batch-wise in DuckDB from the shared signature CTEs."""
    from .operators import dedup as _dd

    docs = _doc(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id").cast("long") % 2 == 0)
    batch = docs.filter(F.col("doc_id").cast("long") % 2 == 1)
    hsig = _dd.minhash_signatures(hist)
    hidx = _dd.signature_bands(hsig)
    return _dd.incremental_neardup(batch, hidx, hsig, min_common=3)["matches"]


def _sql_incremental_neardup() -> str:
    keys = ", ".join(
        md5_64_sql(f"h{2 * b}::VARCHAR || '|' || h{2 * b + 1}::VARCHAR")
        for b in range(8)
    )
    eq = " + ".join(f"(a.h{j} = b.h{j})::INT" for j in range(16))
    return f"""
WITH {SHINGLE3_CTE},
{_sigs_cte()},
banded AS (SELECT doc_id,
                  unnest(range(8)) AS band,
                  unnest([{keys}]) AS key
           FROM sigs),
cands AS (SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_of
          FROM banded n JOIN banded o USING (band, key)
          WHERE n.doc_id::BIGINT % 2 = 1 AND o.doc_id::BIGINT % 2 = 0)
SELECT c.doc_id, c.dup_of, ({eq})::INT AS n_common
FROM cands c
JOIN sigs a ON a.doc_id = c.doc_id
JOIN sigs b ON b.doc_id = c.dup_of
WHERE ({eq}) >= 3
"""


SQL_INCREMENTAL_NEARDUP = _sql_incremental_neardup()


# hot-bucket cutoff for the capped variant below: at sf0.01 the
# historical band index tops out at 2 docs/bucket, so cap=1 is the
# smallest value that actually exercises the cutoff (52 buckets
# dropped) — the same pick-a-cap-that-bites discipline as the
# jaccard df_cutoff=2 parity test
NEARDUP_BUCKET_CAP = 1


def q_incremental_neardup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_neardup with the production hot-bucket cutoff live
    (bucket_cap — boilerplate band keys shared by more docs than the
    cap are skipped, keeping the probe O(batch) on template-heavy
    corpora; the crawl loop runs with plans.scheduler.CRAWL_DEDUP_BUCKET_CAP).
    Oracle mirrors the identical rule: (band, key) groups with more
    than NEARDUP_BUCKET_CAP historical members are anti-joined out of
    the candidate join."""
    from .operators import dedup as _dd

    docs = _doc(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id").cast("long") % 2 == 0)
    batch = docs.filter(F.col("doc_id").cast("long") % 2 == 1)
    hsig = _dd.minhash_signatures(hist)
    hidx = _dd.signature_bands(hsig)
    return _dd.incremental_neardup(
        batch, hidx, hsig, min_common=3, bucket_cap=NEARDUP_BUCKET_CAP
    )["matches"]


def _sql_incremental_neardup_capped() -> str:
    keys = ", ".join(
        md5_64_sql(f"h{2 * b}::VARCHAR || '|' || h{2 * b + 1}::VARCHAR")
        for b in range(8)
    )
    eq = " + ".join(f"(a.h{j} = b.h{j})::INT" for j in range(16))
    return f"""
WITH {SHINGLE3_CTE},
{_sigs_cte()},
banded AS (SELECT doc_id,
                  unnest(range(8)) AS band,
                  unnest([{keys}]) AS key
           FROM sigs),
hot AS (SELECT band, key FROM banded WHERE doc_id::BIGINT % 2 = 0
        GROUP BY band, key HAVING count(*) > {NEARDUP_BUCKET_CAP}),
cands AS (SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_of
          FROM banded n JOIN banded o USING (band, key)
          WHERE n.doc_id::BIGINT % 2 = 1 AND o.doc_id::BIGINT % 2 = 0
            AND NOT EXISTS (SELECT 1 FROM hot h
                            WHERE h.band = n.band AND h.key = n.key))
SELECT c.doc_id, c.dup_of, ({eq})::INT AS n_common
FROM cands c
JOIN sigs a ON a.doc_id = c.doc_id
JOIN sigs b ON b.doc_id = c.dup_of
WHERE ({eq}) >= 3
"""


SQL_INCREMENTAL_NEARDUP_CAPPED = _sql_incremental_neardup_capped()


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs
    (iterative min-label propagation — SURVEY §4's driver-level
    iterative control flow); oracle = a recursive CTE computing the
    same components in DuckDB."""
    docs = _doc(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(
        docs, k=3, n_hashes=16, band_size=2, threshold=0.05
    )
    return DD.dup_clusters(docs, pairs)


SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE {_minhash_ctes()},
e AS (SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION
      SELECT doc_b, doc_a FROM verified),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.src, r.label FROM reach r JOIN e ON e.dst = r.doc_id
    WHERE r.label < e.src
),
lbl AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id)
SELECT doc_id, cluster_id,
       (count(*) OVER (PARTITION BY cluster_id))::BIGINT AS cluster_size
FROM lbl
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_table(_doc(spark, sf_dir, "documents"))


SQL_SIMHASH = r"""
WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS word FROM wl),
h AS (SELECT doc_id, {h} AS wh FROM w),
votes AS (SELECT doc_id, unnest(range(60)) AS bit, wh FROM h),
v AS (SELECT doc_id, bit,
             sum(CASE WHEN (wh >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM votes GROUP BY doc_id, bit)
SELECT doc_id,
       sum(CASE WHEN vote > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash
FROM v GROUP BY doc_id
""".replace("{h}", md5_64_sql("word"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-blocked simhash near-dup (exact for hamming<=3 with 4
    blocks); oracle is the brute-force all-pairs hamming filter."""
    return DD.simhash_pairs(
        _doc(spark, sf_dir, "documents"), max_hamming=3, n_blocks=4
    )


_SQL_SIMHASH_CTES = r"""
WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS word FROM wl),
h AS (SELECT doc_id, {h} AS wh FROM w),
votes AS (SELECT doc_id, unnest(range(60)) AS bit, wh FROM h),
v AS (SELECT doc_id, bit,
             sum(CASE WHEN (wh >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM votes GROUP BY doc_id, bit),
sims AS (SELECT doc_id,
                sum(CASE WHEN vote > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash
         FROM v GROUP BY doc_id)
""".replace("{h}", md5_64_sql("word"))

SQL_SIMHASH_PAIRS = (
    _SQL_SIMHASH_CTES
    + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count_ws("text").cast("long").alias("n_tokens_ws"),
        TX.token_count_bpe("text").cast("long").alias("n_tokens_bpe"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(TX.stopword_ratio("text"), 6).alias("stopword_ratio"),
        TX.quality_score("text").alias("quality"),
        TX.langid("text").alias("lang_guess"),
    )


def _sql_text_stats() -> str:
    stop_list = ", ".join(f"'{w}'" for w in TX.EN_STOPWORDS)
    vote_cols = []
    for lang in sorted(TX.LANG_MARKERS):
        markers = ", ".join(f"'{w}'" for w in TX.LANG_MARKERS[lang])
        vote_cols.append(
            f"sum(CASE WHEN lower(word) IN ({markers}) THEN 1 ELSE 0 END) AS v_{lang}"
        )
    langs = sorted(TX.LANG_MARKERS)
    g = "greatest(" + ", ".join(f"v_{lang}" for lang in langs) + ")"
    pick = "CASE WHEN " + g + " = 0 THEN 'und' " + " ".join(
        f"WHEN v_{lang} = {g} THEN '{lang}'" for lang in langs
    ) + " END"
    return rf"""
WITH wl AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS word FROM wl),
votes AS (SELECT doc_id, {", ".join(vote_cols)},
                 sum(CASE WHEN lower(word) IN ({stop_list}) THEN 1 ELSE 0 END) AS n_stop
          FROM w GROUP BY doc_id),
base AS (SELECT doc_id, text, len(ws)::BIGINT AS n_tokens_ws,
                len(regexp_extract_all(text, '{TX.TOKEN_REGEX}'))::BIGINT AS n_tokens_bpe,
                len(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
                len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct
         FROM wl)
SELECT b.doc_id, b.n_tokens_ws, b.n_tokens_bpe,
       round(CASE WHEN b.n_nonspace > 0 THEN b.n_punct / b.n_nonspace ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN b.n_tokens_ws > 0 THEN v.n_stop / b.n_tokens_ws ELSE 0.0 END, 6) AS stopword_ratio,
       ((CASE WHEN b.n_tokens_ws BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
        + (CASE WHEN (CASE WHEN b.n_tokens_ws > 0 THEN v.n_stop / b.n_tokens_ws ELSE 0.0 END) >= 0.05 THEN 0.3 ELSE 0.0 END)
        + (CASE WHEN (CASE WHEN b.n_nonspace > 0 THEN b.n_punct / b.n_nonspace ELSE 0.0 END) <= 0.3 THEN 0.3 ELSE 0.0 END)
       )::DOUBLE AS quality,
       {pick} AS lang_guess
FROM base b JOIN votes v USING (doc_id)
"""


SQL_TEXT_STATS = _sql_text_stats()


def q_token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count_ws("text").cast("long")).alias("total_ws_tokens"),
            F.sum(TX.token_count_bpe("text").cast("long")).alias("total_bpe_tokens"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        )
    )


SQL_TOKEN_STATS_BY_SOURCE = rf"""
SELECT source, count(*)::BIGINT AS n_docs,
       sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS total_ws_tokens,
       sum(len(regexp_extract_all(text, '{TX.TOKEN_REGEX}')))::BIGINT AS total_bpe_tokens,
       round(avg(len(text)), 4) AS avg_chars
FROM documents GROUP BY source
"""


VOCAB_K = 100


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: BPE-ish tokens → global top-K by count
    with a total-order tie-break (count desc, token asc).  Scale shape:
    the groupBy does map-side partial counts and the ordered limit
    compiles to TakeOrderedAndProject — every partition keeps only K
    rows, so no global sort ever materializes."""
    docs = _doc(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TX.TOKEN_REGEX), F.lit(0))
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(VOCAB_K)
    )


SQL_VOCAB_TOPK = rf"""
SELECT token, count(*)::BIGINT AS n
FROM (SELECT unnest(regexp_extract_all(text, '{TX.TOKEN_REGEX}')) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT {VOCAB_K}
"""


# ---------------------------------------------------------------------------
# Corpus curation (operators/curation.py)
# ---------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the whole corpus: the held-out
    'benchmark' is the doc_id % 97 == 0 slice (benchmark sets are tiny
    vs the corpus — the operator broadcasts their distinct 5-gram
    hashes), and every document sharing a 5-gram with it is flagged.
    Benchmark docs flag themselves by construction: a training corpus
    containing the benchmark verbatim is exactly the leak this finds."""
    docs = _doc(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return CUR.decontaminate(docs, bench, k=5)


SQL_DECONTAMINATE = rf"""
WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
g0 AS (SELECT doc_id, ws, unnest(range(len(ws) - 4)) AS i FROM wl WHERE len(ws) >= 5),
g1 AS (SELECT doc_id,
              ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] AS s
       FROM g0),
sh AS (SELECT DISTINCT doc_id, {md5_64_sql('s')} AS sh FROM g1),
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
hits AS (SELECT s.doc_id, count(*)::BIGINT AS n_hits
         FROM sh s JOIN bench b USING (sh) GROUP BY s.doc_id)
SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CUR.quality_filter(_doc(spark, sf_dir, "documents"))


def _sql_quality_filter() -> str:
    stop_list = ", ".join(f"'{w}'" for w in TX.EN_STOPWORDS)
    mean = "CASE WHEN n_words > 0 THEN sum_len / n_words ELSE 0.0 END"
    stopr = "CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END"
    punctr = "CASE WHEN n_nonspace > 0 THEN n_punct / n_nonspace ELSE 0.0 END"
    oks = {
        "n_words": "n_words BETWEEN 10 AND 100000",
        "word_len": f"({mean}) BETWEEN 2.0 AND 12.0",
        "stopwords": f"({stopr}) >= 0.05",
        "punct": f"({punctr}) <= 0.3",
    }
    reasons = ", ".join(
        f"CASE WHEN NOT ({oks[r]}) THEN '{r}' END" for r in CUR.QUALITY_RULES
    )
    keep = " AND ".join(f"({e})" for e in oks.values())
    return rf"""
WITH wl AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS ws FROM documents),
w AS (SELECT doc_id, unnest(ws) AS word FROM wl),
stops AS (SELECT doc_id,
                 sum(CASE WHEN lower(word) IN ({stop_list}) THEN 1 ELSE 0 END) AS n_stop
          FROM w GROUP BY doc_id),
b AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
             list_sum(list_transform(ws, x -> len(x)))::BIGINT AS sum_len,
             len(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
             len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct
      FROM wl)
SELECT b.doc_id, b.n_words,
       round({mean}, 6) AS mean_word_len,
       round({stopr}, 6) AS stop_ratio,
       round({punctr}, 6) AS punct_ratio,
       coalesce(array_to_string(list_filter([{reasons}], x -> x IS NOT NULL), ','), '') AS fail_reasons,
       ({keep}) AS keep
FROM b JOIN stops USING (doc_id)
"""


SQL_QUALITY_FILTER = _sql_quality_filter()


def _pii_text_spark() -> F.Column:
    """text + deterministically injected PII (doc_id % 4 selects kind)."""
    rid = F.col("doc_id").cast("long")
    s = rid.cast("string")
    email = F.concat(F.lit(" contact user"), s, F.lit("@mail.example.com now"))
    # phone format varies by doc_id so every alternation branch of the
    # broadened pattern (cc-hyphen, parens, dotted) is exercised
    area = F.format_string("%03d", rid % 1000)
    local = F.format_string("%04d", rid % 10000)
    p0 = F.concat(F.lit("+1-555-"), area, F.lit("-"), local)
    p1 = F.concat(F.lit("(555) "), area, F.lit("-"), local)
    p2 = F.concat(F.lit("555."), area, F.lit("."), local)
    phone = F.concat(
        F.lit(" call "),
        F.when(rid % 3 == 0, p0).when(rid % 3 == 1, p1).otherwise(p2),
        F.lit(" today"),
    )
    ip = F.concat(
        F.lit(" from 10."), (rid % 250).cast("string"), F.lit(".3.7 logged")
    )
    return F.concat(
        F.col("text"),
        F.when(rid % 4 == 0, email)
        .when(rid % 4 == 1, phone)
        .when(rid % 4 == 2, ip)
        .otherwise(F.lit("")),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents with deterministically injected
    emails/phones/IPv4s (so every pattern path is exercised at every
    sf); emits counts and the md5_64 of the scrubbed text — a hash
    mismatch catches any divergence in the replacement itself."""
    docs = _doc(spark, sf_dir, "documents").select(
        "doc_id", _pii_text_spark().alias("text")
    )
    out = CUR.pii_scrub(docs)
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ip",
        md5_64(F.col("scrubbed")).alias("scrub_hash"),
        F.length("scrubbed").cast("long").alias("scrub_len"),
    )


def _sql_pii_scrub() -> str:
    pii = (
        "text || CASE (doc_id % 4)"
        " WHEN 0 THEN ' contact user' || doc_id || '@mail.example.com now'"
        " WHEN 1 THEN ' call ' || CASE (doc_id % 3)"
        "   WHEN 0 THEN '+1-555-' || printf('%03d', doc_id % 1000)"
        "     || '-' || printf('%04d', doc_id % 10000)"
        "   WHEN 1 THEN '(555) ' || printf('%03d', doc_id % 1000)"
        "     || '-' || printf('%04d', doc_id % 10000)"
        "   ELSE '555.' || printf('%03d', doc_id % 1000)"
        "     || '.' || printf('%04d', doc_id % 10000) END || ' today'"
        " WHEN 2 THEN ' from 10.' || (doc_id % 250) || '.3.7 logged'"
        " ELSE '' END"
    )
    scrub = "t"
    for _, pat, repl in CUR.PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{name}"
        for name, pat, _ in CUR.PII_PATTERNS
    )
    return rf"""
WITH p AS (SELECT doc_id, {pii} AS t FROM documents)
SELECT doc_id, {counts},
       {md5_64_sql(scrub)} AS scrub_hash,
       len({scrub})::BIGINT AS scrub_len
FROM p
"""


SQL_PII_SCRUB = _sql_pii_scrub()


def q_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite curation verdict (operators/curation.py
    ``curate_corpus``): quality rules x benchmark decontamination x
    duplicate-representative selection, one keep/drop + reason trail
    per document.  The oracle composes the three operators' own SQL
    twins as subqueries — each leg stays independently re-derived."""
    docs = _doc(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    pairs = DD.minhash_lsh_dedup(
        docs, k=3, n_hashes=16, band_size=2, threshold=0.05
    )
    return CUR.curate_corpus(docs, bench, pairs)


def _sql_curate_pipeline() -> str:
    reasons = """coalesce(array_to_string(list_filter([
        CASE WHEN q.fail_reasons <> '' THEN q.fail_reasons END,
        CASE WHEN c.contaminated THEN 'contaminated' END,
        CASE WHEN d.cluster_id <> d.doc_id THEN 'duplicate' END
    ], x -> x IS NOT NULL), ','), '')"""
    return f"""
SELECT q.doc_id,
       (q.keep AND NOT c.contaminated AND d.cluster_id = d.doc_id) AS keep,
       {reasons} AS drop_reasons
FROM ({SQL_QUALITY_FILTER}) q
JOIN ({SQL_DECONTAMINATE}) c ON q.doc_id = c.doc_id
JOIN ({SQL_DUP_CLUSTERS}) d ON q.doc_id = d.doc_id
"""


SQL_CURATE_PIPELINE = _sql_curate_pipeline()


# ---------------------------------------------------------------------------
# robots.txt parsing (sources/robots.py)
# ---------------------------------------------------------------------------

# Bodies are synthesized per derived domain from fixed templates chosen
# by domain ordinal; together they cover the documented grammar subset:
# group selection (specific beats '*'), multi-UA runs, comments, CRLF,
# preamble rules, empty/wildcard values, crawl-delay attachment and the
# '/' allow-carrier, and non-robots garbage.
ROBOTS_TEMPLATES: list[str] = [
    "User-agent: *\nDisallow: /private-{d}\nAllow: /private-{d}/ok\n",
    (
        "User-agent: googlebot\nDisallow: /google-only\n\n"
        "User-agent: newscrawler\nDisallow: /api-{d}\nCrawl-delay: 2.5\n\n"
        "User-agent: *\nDisallow: /everything\n"
    ),
    "User-agent: a\nUser-agent: newscrawler\nUser-agent: b\nDisallow: /shared-{d}\n",
    "# header\r\nUSER-AGENT: * # trailing\r\nDISALLOW: /x-{d} # why\r\nCrawl-Delay: 1.5\r\n",
    (
        "Disallow: /preamble-ignored\nUser-agent: *\nDisallow:\n"
        "Disallow: /w*ld\nDisallow: /end$\nDisallow: rel-{d}\nDisallow: /lit-{d}\n"
    ),
    "User-agent: *\nCrawl-delay: 7\n",
    "User-agent: *\nDisallow: /\n",
    "not a robots file at all\n<<<>>>\n",
]

ROBOTS_N_DOMAINS = 120


def _robots_bodies(spark: SparkSession, sf_dir: str) -> DataFrame:
    doms = (
        _doc(spark, sf_dir, "documents")
        .select((F.col("doc_id") % ROBOTS_N_DOMAINS).cast("long").alias("did"))
        .distinct()
    )
    d = F.col("did").cast("string")
    body = None
    for i, t in enumerate(ROBOTS_TEMPLATES):
        parts: list = []
        for j, piece in enumerate(t.split("{d}")):
            if j:
                parts.append(d)
            parts.append(F.lit(piece))
        e = F.concat(*parts)
        cond = F.col("did") % len(ROBOTS_TEMPLATES) == i
        body = F.when(cond, e) if body is None else body.when(cond, e)
    return doms.select(
        F.concat(F.lit("site-"), d, F.lit(".example")).alias("domain"),
        body.alias("body"),
    )


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full robots.txt line grammar + RFC 9309 group selection
    (sources/robots.py, entirely JVM-side) over templated bodies; the
    oracle re-implements the same grammar independently in DuckDB SQL."""
    from .sources.robots import parse_robots

    return parse_robots(_robots_bodies(spark, sf_dir), agent="newscrawler")


def _sql_robots_rules() -> str:
    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    arms = []
    for i, t in enumerate(ROBOTS_TEMPLATES):
        expr = " || (did::VARCHAR) || ".join(lit(p) for p in t.split("{d}"))
        arms.append(f"WHEN {i} THEN {expr}")
    body_case = f"CASE (did % {len(ROBOTS_TEMPLATES)}) " + " ".join(arms) + " END"
    return rf"""
WITH doms AS (SELECT DISTINCT (doc_id % {ROBOTS_N_DOMAINS}) AS did FROM documents),
bodies AS (SELECT 'site-' || did || '.example' AS domain, {body_case} AS body FROM doms),
ls AS (SELECT domain, string_split_regex(body, '\r?\n') AS lns FROM bodies),
lines AS (SELECT domain, unnest(lns) AS line, unnest(range(len(lns))) AS pos FROM ls),
cl AS (SELECT domain, pos, trim(regexp_replace(line, '#.*$', '')) AS clean FROM lines),
parsed AS (
  SELECT domain, pos,
         lower(trim(regexp_extract(clean, '^([^:]+):', 1))) AS key,
         trim(regexp_extract(clean, '^[^:]+:(.*)$', 1)) AS val
  FROM cl
  WHERE lower(trim(regexp_extract(clean, '^([^:]+):', 1)))
        IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
),
g1 AS (SELECT *, lag(key) OVER (PARTITION BY domain ORDER BY pos) AS prev_key FROM parsed),
g2 AS (SELECT *, CASE WHEN key = 'user-agent'
                       AND (prev_key IS NULL OR prev_key <> 'user-agent')
                      THEN 1 ELSE 0 END AS gs FROM g1),
g3 AS (SELECT *, sum(gs) OVER (PARTITION BY domain ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS gid FROM g2),
grp AS (
  SELECT domain, gid,
         list(CASE WHEN key = 'user-agent' THEN lower(val) END) AS agents,
         list(CASE WHEN key = 'allow' AND starts_with(val, '/')
                        AND NOT contains(val, '*') AND NOT contains(val, '$')
                   THEN {{'allow': TRUE, 'path_prefix': val}}
                   WHEN key = 'disallow' AND val <> ''
                   THEN {{'allow': FALSE, 'path_prefix':
                         CASE WHEN regexp_extract(val, '^([^*$]*)', 1) = '' THEN '/'
                              WHEN starts_with(regexp_extract(val, '^([^*$]*)', 1), '/')
                              THEN regexp_extract(val, '^([^*$]*)', 1)
                              ELSE '/' || regexp_extract(val, '^([^*$]*)', 1) END}}
              END) AS rules,
         max(CASE WHEN key = 'crawl-delay' THEN TRY_CAST(val AS DOUBLE) END) AS crawl_delay_s
  FROM g3 WHERE gid > 0 GROUP BY domain, gid
),
sel0 AS (SELECT *, list_contains(agents, 'newscrawler') AS match_specific,
                list_contains(agents, '*') AS has_star FROM grp),
sel1 AS (SELECT *, max(CASE WHEN match_specific THEN 1 ELSE 0 END)
                     OVER (PARTITION BY domain) = 1 AS any_specific FROM sel0),
selected AS (SELECT * FROM sel1
             WHERE CASE WHEN any_specific THEN match_specific
                        ELSE coalesce(has_star, FALSE) END),
seld AS (SELECT *, max(crawl_delay_s) OVER (PARTITION BY domain) AS dom_delay FROM selected),
expl AS (SELECT domain, dom_delay,
                unnest(list_filter(rules, r -> r.path_prefix IS NOT NULL)) AS r
         FROM seld),
base AS (SELECT DISTINCT domain, r.path_prefix AS path_prefix, r.allow AS allow,
                         dom_delay AS crawl_delay_s
         FROM expl),
dom AS (SELECT domain, max(dom_delay) AS dom_delay FROM seld GROUP BY domain),
have_root AS (SELECT DISTINCT domain FROM base WHERE path_prefix = '/'),
carrier AS (SELECT d.domain, '/' AS path_prefix, TRUE AS allow, d.dom_delay AS crawl_delay_s
            FROM dom d
            WHERE d.dom_delay IS NOT NULL
              AND d.domain NOT IN (SELECT domain FROM have_root))
SELECT domain, path_prefix, allow, crawl_delay_s FROM base
UNION ALL
SELECT domain, path_prefix, allow, crawl_delay_s FROM carrier
"""


SQL_ROBOTS_RULES = _sql_robots_rules()


# ---------------------------------------------------------------------------
# Sitemap ingestion — robots.txt `Sitemap:` discovery + sitemap-XML parse
# (sources/sitemaps.py).  The reference seeds from hard-coded entry URLs;
# at web scale the sitemaps.org protocol is the discovery channel, so the
# engine treats it as a first-class source.  Bodies are synthesized
# deterministically from doc ids (same pattern as the robots queries);
# the oracle derives the EXPECTED rows directly from the id arithmetic,
# making each query a build→parse round-trip check.
# ---------------------------------------------------------------------------

SITEMAP_N_DOMAINS = 140
_CHANGEFREQS = ("daily", "weekly", "monthly")


def _sitemap_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, xml) sitemap fetch results derived from doc ids.

    Per domain did = doc_id % SITEMAP_N_DOMAINS:
      * did % 7 == 1 → a non-sitemap HTML body (parse-quarantine path);
      * did % 7 == 0 → a <sitemapindex> with (did % 3) + 1 entries;
      * otherwise    → a <urlset> with (did % 9) + 1 <url> entries whose
        lastmod / changefreq / priority tags are each present or absent
        by modular arithmetic (so the NULL paths are exercised), and
        whose <loc> carries padding whitespace (the parser must trim).
    """
    doms = (
        _doc(spark, sf_dir, "documents")
        .select((F.col("doc_id") % SITEMAP_N_DOMAINS).cast("long").alias("did"))
        .distinct()
    )
    did = F.col("did")
    site = F.concat(F.lit("https://site-"), did.cast("string"), F.lit(".example"))
    cf_arr = F.array(*[F.lit(c) for c in _CHANGEFREQS])

    def url_entry(j):
        m = did + j
        day = (m % 28 + 1).cast("int")
        lastmod = F.when(
            m % 3 != 0,
            F.concat(
                F.lit("<lastmod>"),
                F.format_string("2026-01-%02d", day),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit(""))
        cf = F.when(
            m % 4 != 0,
            F.concat(
                F.lit("<changefreq>"),
                F.element_at(cf_arr, (m % 3 + 1).cast("int")),
                F.lit("</changefreq>"),
            ),
        ).otherwise(F.lit(""))
        pr = F.when(
            m % 5 != 0,
            F.concat(
                F.lit("<priority>"),
                ((m % 11) / 10.0).cast("string"),
                F.lit("</priority>"),
            ),
        ).otherwise(F.lit(""))
        loc = F.concat(
            F.lit("<loc> "),
            site,
            F.lit("/art/"),
            did.cast("string"),
            F.lit("/"),
            j.cast("string"),
            F.lit(" </loc>"),
        )
        return F.concat(F.lit("  <url>"), loc, lastmod, cf, pr, F.lit("</url>\n"))

    def idx_entry(j):
        day = ((did + j) % 28 + 1).cast("int")
        return F.concat(
            F.lit("  <sitemap><loc>"),
            site,
            F.lit("/sitemap-"),
            j.cast("string"),
            F.lit(".xml</loc><lastmod>"),
            F.format_string("2026-02-%02d", day),
            F.lit("</lastmod></sitemap>\n"),
        )

    urlset = F.concat(
        F.lit(
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        ),
        F.array_join(F.transform(F.sequence(F.lit(0), did % 9), url_entry), ""),
        F.lit("</urlset>"),
    )
    index = F.concat(
        F.lit('<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'),
        F.array_join(F.transform(F.sequence(F.lit(0), did % 3), idx_entry), ""),
        F.lit("</sitemapindex>"),
    )
    bad = F.concat(
        F.lit("<html><body>not a sitemap "), did.cast("string"), F.lit("</body></html>")
    )
    body = (
        F.when(did % 7 == 1, bad).when(did % 7 == 0, index).otherwise(urlset)
    )
    return doms.select(
        F.concat(site, F.lit("/sitemap.xml")).alias("url"), body.alias("xml")
    )


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML → entries via from_xml (JVM StaxXmlParser, no UDF):
    urlset leaves, sitemapindex hops, and quarantined non-sitemap rows
    (sources/sitemaps.py::parse_sitemaps).  The oracle reconstructs the
    expected entry set from the generator arithmetic — a full
    build→parse round trip."""
    from .sources.sitemaps import parse_sitemaps

    return parse_sitemaps(_sitemap_pages(spark, sf_dir))


SQL_SITEMAP_PARSE = f"""
WITH doms AS (SELECT DISTINCT (doc_id % {SITEMAP_N_DOMAINS}) AS did FROM documents),
uj AS (SELECT did, unnest(range((did % 9) + 1)) AS j FROM doms
       WHERE did % 7 NOT IN (0, 1)),
urls AS (
  SELECT 'https://site-' || did || '.example/sitemap.xml' AS sitemap_url,
         'url' AS kind,
         'https://site-' || did || '.example/art/' || did || '/' || j AS loc,
         CASE WHEN (did + j) % 3 <> 0
              THEN '2026-01-' || lpad(((did + j) % 28 + 1)::VARCHAR, 2, '0') END
           AS lastmod,
         CASE WHEN (did + j) % 4 <> 0
              THEN (['daily', 'weekly', 'monthly'])[((did + j) % 3 + 1)::INT] END
           AS changefreq,
         CASE WHEN (did + j) % 5 <> 0
              THEN ((did + j) % 11) / 10.0 END AS priority
  FROM uj),
ij AS (SELECT did, unnest(range((did % 3) + 1)) AS j FROM doms WHERE did % 7 = 0),
idx AS (
  SELECT 'https://site-' || did || '.example/sitemap.xml' AS sitemap_url,
         'sitemap' AS kind,
         'https://site-' || did || '.example/sitemap-' || j || '.xml' AS loc,
         '2026-02-' || lpad(((did + j) % 28 + 1)::VARCHAR, 2, '0') AS lastmod,
         NULL::VARCHAR AS changefreq,
         NULL::DOUBLE AS priority
  FROM ij),
bad AS (
  SELECT 'https://site-' || did || '.example/sitemap.xml' AS sitemap_url,
         'error' AS kind, NULL::VARCHAR AS loc, NULL::VARCHAR AS lastmod,
         NULL::VARCHAR AS changefreq, NULL::DOUBLE AS priority
  FROM doms WHERE did % 7 = 1)
SELECT * FROM urls UNION ALL SELECT * FROM idx UNION ALL SELECT * FROM bad
"""


def _sitemap_robots_bodies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robots_rules bodies plus appended `Sitemap:` lines: every
    domain advertises one sitemap; every 4th also a mixed-case indexed
    one with a trailing comment; every 5th a relative URL the parser
    must drop (sitemaps must be absolute)."""
    base = _robots_bodies(spark, sf_dir)
    did = F.regexp_extract("domain", r"site-(\d+)\.example", 1).cast("long")
    site = F.concat(F.lit("https://site-"), did.cast("string"), F.lit(".example"))
    extra1 = F.when(
        did % 4 == 0,
        F.concat(F.lit("SiTeMaP:   "), site, F.lit("/news/sitemap-index.xml  # index\n")),
    ).otherwise(F.lit(""))
    extra2 = F.when(did % 5 == 0, F.lit("Sitemap: /relative-dropped.xml\n")).otherwise(
        F.lit("")
    )
    return base.select(
        "domain",
        F.concat(
            "body", F.lit("sitemap: "), site, F.lit("/sitemap.xml\n"), extra1, extra2
        ).alias("body"),
    )


def q_sitemap_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`Sitemap:` line extraction from robots.txt bodies
    (sources/sitemaps.py::sitemap_urls_from_robots — group-independent
    per RFC 9309 §2.2.4, absolute-URL values only)."""
    from .sources.sitemaps import sitemap_urls_from_robots

    return sitemap_urls_from_robots(_sitemap_robots_bodies(spark, sf_dir))


SQL_SITEMAP_DISCOVER = f"""
WITH doms AS (SELECT DISTINCT (doc_id % {ROBOTS_N_DOMAINS}) AS did FROM documents)
SELECT 'site-' || did || '.example' AS domain,
       'https://site-' || did || '.example/sitemap.xml' AS sitemap_url
FROM doms
UNION ALL
SELECT 'site-' || did || '.example',
       'https://site-' || did || '.example/news/sitemap-index.xml'
FROM doms WHERE did % 4 = 0
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _doc(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return SIM.brute_force_topk(emb, queries, k=10)


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (SELECT query_id, neighbor_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_raw
      FROM q, c WHERE query_id <> neighbor_id),
r AS (SELECT query_id, neighbor_id,
             (row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_raw DESC, neighbor_id))::INT AS rank,
             round(cos_raw, 6) AS cosine
      FROM s)
SELECT query_id, neighbor_id, rank, cosine FROM r WHERE rank <= 10
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path).  The DuckDB oracle reproduces the
    sign-sketch buckets exactly: the hyperplanes are the same md5-derived
    literals on both engines, and DuckDB's list_dot_product matches
    Spark's sequential F.aggregate fold bit-for-bit (the same recipe
    that keeps ann_cosine_topk green), so even the float-sign bucket
    test agrees."""
    emb = _doc(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return SIM.lsh_topk(emb, queries, dim=64, k=10, n_planes=8)


def _sql_ann_lsh(dim: int = 64, n_planes: int = 8, k: int = 10) -> str:
    """Build the DuckDB twin of SIM.lsh_topk(dim=64, k=10, n_planes=8).

    Plane literals come from the SAME generator (SIM.hyperplane) as the
    Spark plan; repr() round-trips each double exactly."""
    def plane_lit(p: int) -> str:
        return "[" + ", ".join(repr(x) for x in SIM.hyperplane(dim, p)) + "]"

    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {plane_lit(p)}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    # multiprobe: the query bucket plus each hamming-1 neighbor (all
    # single-bit flips are distinct, matching Spark's array_union)
    probe_list = ", ".join(
        ["qb"] + [f"xor(qb, {1 << p})" for p in range(n_planes)]
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, ({bucket_terms})::BIGINT AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b WHERE vec_id < 8),
probes AS (SELECT query_id, qv, unnest([{probe_list}]) AS bucket FROM q),
s AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             list_dot_product(p.qv, c.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cos_raw
      FROM probes p JOIN b c ON c.bucket = p.bucket AND c.vec_id <> p.query_id),
agg AS (SELECT query_id, neighbor_id, max(cos_raw) AS cos_raw FROM s GROUP BY 1, 2),
r AS (SELECT query_id, neighbor_id,
             (row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_raw DESC, neighbor_id))::INT AS rank,
             round(cos_raw, 6) AS cosine
      FROM agg)
SELECT query_id, neighbor_id, rank, cosine FROM r WHERE rank <= {k}
"""


SQL_ANN_LSH_TOPK = _sql_ann_lsh()


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse-quantizer cells + n_probe search).  The DuckDB
    oracle reproduces cell assignment exactly: shared md5-derived
    centroid literals + sequential-fold dots (same recipe as the LSH
    oracle), ties broken by centroid id on both engines."""
    emb = _doc(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return SIM.ivf_topk(emb, queries, dim=64, k=10, n_centroids=16, n_probe=4)


def _sql_ann_ivf(
    dim: int = 64, n_centroids: int = 16, n_probe: int = 4, k: int = 10
) -> str:
    def cen_lit(c: int) -> str:
        return "[" + ", ".join(repr(x) for x in SIM.ivf_centroid(dim, c)) + "]"

    dots = ", ".join(
        f"list_dot_product(v, {cen_lit(c)})" for c in range(n_centroids)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
a AS (SELECT vec_id, v,
             unnest(range({n_centroids})) AS cid,
             unnest([{dots}]) AS d
      FROM e),
ranked AS (SELECT vec_id, v, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d DESC, cid) AS rn
           FROM a),
c AS (SELECT vec_id AS neighbor_id, v AS cv, cid FROM ranked WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, cid
      FROM ranked WHERE rn <= {n_probe} AND vec_id < 8),
s AS (SELECT q.query_id, c.neighbor_id,
             list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_raw
      FROM q JOIN c USING (cid)
      WHERE c.neighbor_id <> q.query_id),
r AS (SELECT query_id, neighbor_id,
             (row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_raw DESC, neighbor_id))::INT AS rank,
             round(cos_raw, 6) AS cosine
      FROM s)
SELECT query_id, neighbor_id, rank, cosine FROM r WHERE rank <= {k}
"""


SQL_ANN_IVF_TOPK = _sql_ann_ivf()


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _doc(spark, sf_dir, "embeddings")
    return SIM.cosine_neardup_pairs(emb, block_col="label", threshold=0.3)


SQL_EMBED_NEARDUP = """
WITH v AS (SELECT label, vec_id, embedding::DOUBLE[] AS e FROM embeddings),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos_raw
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, round(cos_raw, 6) AS cosine FROM p WHERE cos_raw >= 0.3
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return decode_media(media)


SQL_MULTIMODAL_DECODE = f"""
WITH m AS (SELECT doc_id, text, {md5_64_sql("text")} AS h FROM documents)
SELECT doc_id::VARCHAR AS media_id,
       CASE WHEN len(text) = 0 THEN 0 ELSE octet_length(encode(text)) END::INT AS n_bytes,
       CASE WHEN len(text) = 0 THEN NULL
            ELSE (CASE h % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END) END AS format,
       CASE WHEN len(text) = 0 THEN NULL ELSE (64 + (h // 3) % 1856) END::INT AS width,
       CASE WHEN len(text) = 0 THEN NULL ELSE (64 + (h // 7) % 1016) END::INT AS height,
       len(text) > 0 AS ok
FROM m
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing (operators/multimodal.py
    ``extract_features``): binary payloads → fixed-dim vectors over
    Arrow batches; the oracle recomputes four sampled dimensions from
    the same md5 arithmetic (the full vector is pytest-covered)."""
    from .operators.multimodal import extract_features

    docs = _doc(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    out = extract_features(media)
    return out.select(
        "media_id",
        *[
            F.element_at("features", i + 1).alias(f"f{i}")
            for i in (0, 5, 10, 15)
        ],
    )


def _sql_multimodal_features() -> str:
    dims = ", ".join(
        f"CASE WHEN len(text) = 0 THEN NULL ELSE "
        f"(({md5_64_sql(f'''text || '#{i}' ''')}) % 2000001 - 1000000) / 1000000.0 "
        f"END AS f{i}"
        for i in (0, 5, 10, 15)
    )
    return f"""
SELECT doc_id::VARCHAR AS media_id, {dims} FROM documents
"""


SQL_MULTIMODAL_FEATURES = _sql_multimodal_features()


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (operators/multimodal.py ``resize_media``):
    per-media target dims ride as columns, the fake resized payload is
    md5-tiled to thumbnail size; the oracle rebuilds the same bytes in
    SQL and must agree on the output hash."""
    from .operators.multimodal import resize_media

    docs = _doc(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        (32 + (F.col("doc_id") % 16) * 16).cast("int").alias("target_w"),
        (32 + (F.col("doc_id") % 9) * 16).cast("int").alias("target_h"),
    )
    out = resize_media(media)
    return out.select(
        "media_id", "width", "height", "n_bytes",
        md5_64(F.decode("payload", "utf-8")).alias("payload_hash"),
    )


SQL_MULTIMODAL_RESIZE = f"""
WITH m AS (SELECT doc_id, text,
                  (32 + (doc_id % 16) * 16)::INT AS w,
                  (32 + (doc_id % 9) * 16)::INT AS h
           FROM documents),
n AS (SELECT doc_id, text, w, h,
             CASE WHEN len(text) = 0 THEN 0 ELSE 32 + (w * h) // 64 END AS n_bytes
      FROM m),
r AS (SELECT doc_id, w, h, n_bytes,
             CASE WHEN n_bytes = 0 THEN ''
                  ELSE substr(repeat(md5(text), (n_bytes + 31) // 32), 1, n_bytes)
             END AS payload
      FROM n)
SELECT doc_id::VARCHAR AS media_id, w AS width, h AS height, n_bytes::INT AS n_bytes,
       {md5_64_sql("payload")} AS payload_hash
FROM r
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (operators/multimodal.py
    ``frame_sample_plan``): one row per sampled frame index, every 30th
    frame of a deterministic fake per-video frame count."""
    from .operators.multimodal import frame_sample_plan

    docs = _doc(spark, sf_dir, "documents")
    media = docs.select(F.col("doc_id").cast("string").alias("media_id"))
    return frame_sample_plan(media, every_n=30)


SQL_MULTIMODAL_FRAMES = f"""
WITH m AS (SELECT doc_id::VARCHAR AS media_id,
                  (({md5_64_sql("doc_id::VARCHAR")}) % 300 + 30)::INT AS n_frames
           FROM documents)
SELECT media_id, unnest(range(0, n_frames, 30))::INT AS frame_idx FROM m
"""


# ---------------------------------------------------------------------------
# Event windows (stream-shaped, batch form)
# ---------------------------------------------------------------------------

def q_media_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup end-to-end: payload bytes → mapInPandas feature
    stage → sign-quantized perceptual hash → pigeonhole-blocked
    hamming pairs.  The hash width is SIZED to the corpus by
    multimodal.phash_bits_for (round-4 task 3: the fixed 16-bit demo
    hash made pair output quadratic once n >> 2^16; the rule gains a
    hash bit per corpus doubling so expected collision pairs stay
    linear).  The oracle applies the same width ladder in SQL."""
    from .operators.multimodal import media_neardup_sized

    docs = _doc(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return media_neardup_sized(media)


def _sql_media_neardup() -> str:
    """Scale-adaptive oracle: the same width ladder (16/32/48/64 with
    vol(b,2) = 1+b+b(b-1)/2) chosen from count(*), the same md5-derived
    sign bits assembled per-bit via a HUGEINT shift (bit 63 exceeds
    BIGINT range) and wrap-cast to signed 64 to match Spark's long."""
    hash_i = md5_64_sql("text || '#' || i::VARCHAR")
    bit_i = (
        f"CASE WHEN (({hash_i}) % 2000001 - 1000000) > 0"
        " THEN (1::HUGEINT << i::INT) ELSE 0::HUGEINT END"
    )
    return f"""
WITH n AS (SELECT count(*)::DOUBLE AS cnt FROM documents WHERE len(text) > 0),
bw AS (SELECT CASE WHEN cnt * 137.0 / 65536.0 <= 2.0 THEN 16
                   WHEN cnt * 529.0 / 4294967296.0 <= 2.0 THEN 32
                   WHEN cnt * 1177.0 / 281474976710656.0 <= 2.0 THEN 48
                   ELSE 64 END AS bits FROM n),
ph AS (SELECT doc_id::VARCHAR AS media_id,
              (CASE WHEN s >= 9223372036854775808::HUGEINT
                    THEN s - 18446744073709551616::HUGEINT
                    ELSE s END)::BIGINT AS phash
       FROM (SELECT doc_id,
                    list_sum(list_transform(range(0, (SELECT bits FROM bw)),
                                            i -> {bit_i})) AS s
             FROM documents WHERE len(text) > 0))
SELECT a.media_id AS media_a, b.media_id AS media_b,
       bit_count(xor(a.phash, b.phash))::INT AS hamming
FROM ph a JOIN ph b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= 2
"""


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _doc(spark, sf_dir, "events")
    out = (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("window_epoch"),
            F.col("event_type").alias("key"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    return out


SQL_EVENTS_TUMBLING = """
SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS window_epoch,
       event_type AS key,
       count(*)::BIGINT AS n,
       round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _doc(spark, sf_dir, "events")
    out = EV.sessionize(ev, gap_minutes=30)
    return out.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        F.unix_timestamp("session_start").alias("start_epoch"),
        F.unix_timestamp("session_end").alias("end_epoch"),
    )


SQL_EVENTS_SESSIONIZE = """
WITH o AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
m AS (SELECT *, CASE WHEN prev_ts IS NULL
                          OR (epoch(ts) - epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM o),
s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      FROM m)
SELECT user_id, session_id, count(*)::BIGINT AS n_events,
       floor(epoch(min(ts)))::BIGINT AS start_epoch,
       floor(epoch(max(ts)))::BIGINT AS end_epoch
FROM s GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Search sweep (S5/S6/L1-L2/A5/A7) & streaming surface (§2.9)
# ---------------------------------------------------------------------------

def _sweep_inputs(spark: SparkSession, sf_dir: str):
    """Derive a deterministic API-page fixture from `documents` (same
    derivation the DuckDB oracle re-states in closed form): keyword =
    source; items per keyword ordered by doc_id, pages of 4;
    media_id = 'm' || (doc_id % 97) so the cross-keyword media dedup
    (A7) actually bites; views = len(text)."""
    from pyspark.sql import Window

    w = Window.partitionBy("keyword").orderBy("doc_id")
    items = (
        _doc(spark, sf_dir, "documents")
        .select(
            F.col("source").alias("keyword"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.length("text").cast("int").alias("views"),
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("total_hits", F.count("*").over(Window.partitionBy("keyword")).cast("int"))
        .withColumn("page", (F.floor((F.col("rn") - 1) / 4) + 1).cast("int"))
        .withColumn("media_id", F.concat(F.lit("m"), (F.col("doc_id") % 97).cast("string")))
        .withColumn("media_url", F.concat(F.lit("https://cdn.example/"), F.col("doc_id").cast("string")))
    )
    api_pages = (
        items.groupBy("keyword", "page", "total_hits")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rn", "media_id", "media_url", "views"))
                ),
                lambda s: F.struct(
                    s["media_id"].alias("media_id"),
                    s["media_url"].alias("media_url"),
                    s["views"].alias("views"),
                ),
            ).alias("hits")
        )
        .select("keyword", "page", "hits", "total_hits")
    )
    keywords = items.select("keyword").distinct()
    return keywords, api_pages


def q_search_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the ACTUAL iterative pagination sweep (plans.search_sweep —
    frontier expansion with per-keyword caps mirroring
    /root/reference/video_crawler/pixabay/videos/downloader.py:61-99);
    the oracle states the closed-form result (top-10 per keyword in API
    order, then first-wins per media id)."""
    from .plans.search_sweep import search_sweep

    keywords, api_pages = _sweep_inputs(spark, sf_dir)
    return search_sweep(keywords, api_pages, max_per_keyword=10, per_page=4)


SQL_SEARCH_SWEEP = """
WITH it AS (SELECT source AS keyword, doc_id, len(text)::INT AS views,
                   row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
            FROM documents),
ranked AS (SELECT keyword,
                  'm' || (doc_id % 97) AS media_id,
                  rn::INT AS rank,
                  'https://cdn.example/' || doc_id AS media_url,
                  views
           FROM it WHERE rn <= 10),
dd AS (SELECT *, row_number() OVER (PARTITION BY media_id
                                    ORDER BY keyword, rank) AS rr
       FROM ranked)
SELECT keyword, media_id, rank, media_url, views FROM dd WHERE rr = 1
"""


def q_stream_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the ACTUAL Structured Streaming windowed-metrics query
    (streaming/stream.py: readStream over catalog doc deltas, watermark
    on the round event axis, Trigger.AvailableNow) over a catalog built
    deterministically from `documents` (round = doc_id % 3, platform =
    source, 2 spans per doc).  Append-mode watermarking finalizes every
    round except the newest → oracle keeps round < 2."""
    import tempfile

    from . import schema
    from .sources.catalog import Catalog
    from .streaming.stream import run_doc_metrics_available_now

    docs = _doc(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
        ).alias("spans"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("subtitle"),
        F.lit(None).cast("string").alias("news_url"),
        F.col("source").alias("platform"),
        F.lit(None).cast(schema.META).alias("meta"),
        (F.col("doc_id") % 3).cast("int").alias("round"),
        F.lit(0).cast("int").alias("domain_bucket"),
        F.lit("q").alias("source_seed"),
    )
    cat = Catalog(tempfile.mkdtemp(prefix="streamq_"))
    for r in range(3):
        cat.write_delta(docs.filter(F.col("round") == r), "docs", r)
    out = tempfile.mkdtemp(prefix="streamq_out_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="streamq_ck_") + "/ckpt"
    run_doc_metrics_available_now(spark, cat, out, ckpt)
    return spark.read.parquet(out)


SQL_STREAM_METRICS = """
WITH d AS (SELECT (doc_id % 3)::INT AS round_window, source AS platform
           FROM documents)
SELECT round_window, platform, count(*)::BIGINT AS docs,
       (2 * count(*))::BIGINT AS spans
FROM d WHERE round_window < 2 GROUP BY 1, 2
"""


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the ACTUAL custom stateful streaming operator
    (streaming/stateful.py: applyInPandasWithState buffering state, per
    user, closed by sentinel rows) over the events table and drains it
    with Trigger.AvailableNow.  The drained result is bit-identical to
    batch sessionize, so the ordinary sessionize SQL is the oracle for
    a genuinely stateful streaming pipeline."""
    import os
    import shutil
    import tempfile

    from .streaming.stateful import sessionize_stream, write_sentinels

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _doc(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="statefulq_")
    events_dir = base + "/events"
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, events_dir)
    else:
        os.makedirs(events_dir)
        shutil.copy(src, events_dir + "/part-data.parquet")
    write_sentinels(spark, ev, events_dir)
    out = base + "/out"
    ckpt = base + "/ckpt"
    sessionize_stream(spark, events_dir, out, ckpt, gap_minutes=30)
    return spark.read.parquet(out)


# ---------------------------------------------------------------------------
# Training-corpus preparation (operators/corpusprep.py)
# ---------------------------------------------------------------------------

def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CP.segment_dedup(_doc(spark, sf_dir, "documents"))


SQL_SEGMENT_DEDUP = rf"""
WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
ix AS (SELECT doc_id, ws,
              unnest(range(CAST(ceil(len(ws) / {CP.SEG_TOKENS}.0) AS BIGINT))) AS i
       FROM wl),
seg AS (SELECT doc_id, i::INT AS seg_idx,
               array_to_string(ws[i*{CP.SEG_TOKENS}+1 : i*{CP.SEG_TOKENS}+{CP.SEG_TOKENS}], ' ') AS seg
        FROM ix),
k AS (SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY {md5_64_sql('seg')}
                                ORDER BY doc_id, seg_idx) = 1 AS kept
      FROM seg)
SELECT doc_id, count(*)::BIGINT AS n_segments,
       sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept), '') AS text_kept
FROM k GROUP BY doc_id
"""


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CP.domain_mix(_doc(spark, sf_dir, "documents"))


SQL_DOMAIN_MIX = f"""
WITH r AS (SELECT source,
                  ((1 + ({md5_64_sql('source')} % 4)) * {CP.MIX_SCALE // 4}) AS thr,
                  ({md5_64_sql("source || ':' || doc_id::VARCHAR")} % {CP.MIX_SCALE}) AS pick
           FROM documents)
SELECT source, (thr / {float(CP.MIX_SCALE)}) AS weight,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN pick < thr THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM r GROUP BY source, thr
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CP.pack_sequences(_doc(spark, sf_dir, "documents"))


SQL_PACK_SEQUENCES = rf"""
WITH t AS (SELECT doc_id,
                  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
           FROM documents),
c AS (SELECT doc_id, n_tokens,
             (sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens)::BIGINT AS token_start
      FROM t)
SELECT doc_id, n_tokens, token_start,
       (token_start + n_tokens)::BIGINT AS token_end,
       (token_start // {CP.SEQ_LEN})::BIGINT AS shard_start,
       (CASE WHEN n_tokens > 0 THEN (token_start + n_tokens - 1) // {CP.SEQ_LEN}
             ELSE token_start // {CP.SEQ_LEN} END)::BIGINT AS shard_end
FROM c
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CP.repetition_stats(_doc(spark, sf_dir, "documents"))


SQL_REPETITION_STATS = rf"""
WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
u AS (SELECT doc_id, unnest(ws) AS g FROM wl),
ucnt AS (SELECT doc_id, g, count(*) AS c FROM u GROUP BY 1, 2),
ua AS (SELECT doc_id, max(c)::BIGINT AS mx_u, count(*)::BIGINT AS nd_u,
              sum(c)::BIGINT AS n_tokens
       FROM ucnt GROUP BY doc_id),
b0 AS (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i FROM wl WHERE len(ws) >= 2),
b AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] AS g FROM b0),
bcnt AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
ba AS (SELECT doc_id, max(c)::BIGINT AS mx_b, sum(c)::BIGINT AS n_bi
       FROM bcnt GROUP BY doc_id)
SELECT ua.doc_id, ua.n_tokens,
       round(ua.nd_u / ua.n_tokens, 6) AS distinct_ratio,
       round(ua.mx_u / ua.n_tokens, 6) AS top_token_frac,
       CASE WHEN coalesce(ba.n_bi, 0) > 0 THEN round(ba.mx_b / ba.n_bi, 6)
            ELSE 0.0 END AS top_bigram_frac,
       ((round(ua.nd_u / ua.n_tokens, 6) < {CP.REP_DISTINCT_MIN})
        OR (round(ua.mx_u / ua.n_tokens, 6) > {CP.REP_TOP_TOKEN_MAX})
        OR ((CASE WHEN coalesce(ba.n_bi, 0) > 0 THEN round(ba.mx_b / ba.n_bi, 6)
                  ELSE 0.0 END) > {CP.REP_TOP_BIGRAM_MAX})) AS flagged
FROM ua LEFT JOIN ba USING (doc_id)
"""


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CP.train_split(_doc(spark, sf_dir, "documents"))


SQL_TRAIN_SPLIT = f"""
WITH r AS (SELECT doc_id,
                  ({md5_64_sql("'split:' || doc_id::VARCHAR")} % 100)::BIGINT AS bucket
           FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 98 THEN 'train'
            WHEN bucket < 99 THEN 'val' ELSE 'test' END AS split
FROM r
"""


# ---------------------------------------------------------------------------
# Web-graph / revisit analytics (operators/webgraph.py)
# ---------------------------------------------------------------------------
# Shared derivation: a deterministic host-level link graph from the
# documents table — src host = doc_id % 53, two out-edges per doc with
# md5-derived destinations, anchor text = the doc's first two words.

_N_HOSTS = 53


def _doc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _doc(spark, sf_dir, "documents").select(F.col("doc_id").cast("long"))
    e = d.select("doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("j"))
    return e.select(
        F.concat(F.lit("h"), (F.col("doc_id") % _N_HOSTS).cast("string")).alias(
            "src_host"
        ),
        F.concat(
            F.lit("h"),
            (
                md5_64(
                    F.concat(
                        F.lit("edge:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                )
                % _N_HOSTS
            ).cast("string"),
        ).alias("dst_host"),
    )


_SQL_EDGES_CTE = f"""
e0 AS (SELECT doc_id, unnest([0, 1]) AS j FROM documents),
e AS (SELECT 'h' || (doc_id % {_N_HOSTS})::VARCHAR AS src_host,
             'h' || ({md5_64_sql("'edge:' || doc_id::VARCHAR || ':' || j::VARCHAR")}
                     % {_N_HOSTS})::VARCHAR AS dst_host
      FROM e0)
"""


def q_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return WG.host_rank(_doc_edges(spark, sf_dir))


def _host_rank_sql() -> str:
    scale = WG.RANK_SCALE
    base = (100 - WG.RANK_DAMP_PCT) * scale // 100
    d = WG.RANK_DAMP_PCT
    its = []
    prev = "r0"
    for i in range(1, WG.RANK_ITERS + 1):
        its.append(
            f"""c{i} AS (SELECT e.dst_host AS host,
             sum({prev}.rank // o.out_degree)::BIGINT AS incoming
      FROM e JOIN {prev} ON e.src_host = {prev}.host
             JOIN outdeg o ON e.src_host = o.host
      GROUP BY 1),
r{i} AS (SELECT n.host,
             ({base} + ({d} * coalesce(c{i}.incoming, 0)) // 100)::BIGINT AS rank
      FROM n LEFT JOIN c{i} USING (host))"""
        )
        prev = f"r{i}"
    return f"""
WITH {_SQL_EDGES_CTE.strip().rstrip(',')},
nodes AS (SELECT src_host AS host FROM e UNION SELECT dst_host FROM e),
outdeg AS (SELECT src_host AS host, count(*)::BIGINT AS out_degree
           FROM e GROUP BY 1),
n AS (SELECT nodes.host, coalesce(out_degree, 0)::BIGINT AS out_degree
      FROM nodes LEFT JOIN outdeg USING (host)),
r0 AS (SELECT host, {scale}::BIGINT AS rank FROM n),
{", ".join(its)}
SELECT n.host, n.out_degree, {prev}.rank,
       round({prev}.rank / {float(scale)}, 6) AS rank_norm
FROM n JOIN {prev} USING (host)
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus observability report — the summary a pipeline
    operator reads after each ingest: size, vocabulary, exact-dup count,
    quality pass rate (basis points, exact integer).  Composes the
    oracle-checked primitives; every value is an exact integer so the
    row is engine- and partitioning-independent."""
    docs = _doc(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.words("text")).alias("token")
    ).filter(F.col("token") != "")
    keep = CUR.quality_filter(docs).agg(
        F.sum(F.col("keep").cast("long")).alias("n_keep")
    )
    base = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct(md5_64(F.col("text"))).cast("long").alias("n_distinct_texts"),
    )
    tok = toks.agg(
        F.count(F.lit(1)).cast("long").alias("total_tokens"),
        F.countDistinct("token").cast("long").alias("vocab_size"),
    )
    return (
        base.crossJoin(F.broadcast(tok))
        .crossJoin(F.broadcast(keep))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            (F.col("n_docs") - F.col("n_distinct_texts")).alias("n_exact_dups"),
            "total_tokens",
            "vocab_size",
            F.expr("n_keep * 10000 div n_docs").alias("quality_keep_bp"),
        )
    )


def _sql_corpus_report() -> str:
    from .operators.curation import QUALITY_RULES  # noqa: F401 — parity anchor

    quality = _sql_quality_filter()
    return rf"""
WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
            FROM documents),
t AS (SELECT token FROM (SELECT unnest(ws) AS token FROM wl)
      WHERE token <> ''),
base AS (SELECT count(*)::BIGINT AS n_docs,
                count(DISTINCT source)::BIGINT AS n_sources,
                count(DISTINCT lang)::BIGINT AS n_langs,
                count(DISTINCT {md5_64_sql('text')})::BIGINT AS n_distinct_texts
         FROM documents),
tok AS (SELECT count(*)::BIGINT AS total_tokens,
               count(DISTINCT token)::BIGINT AS vocab_size FROM t),
kq AS (SELECT sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep
       FROM ({quality}) q)
SELECT n_docs, n_sources, n_langs,
       (n_docs - n_distinct_texts)::BIGINT AS n_exact_dups,
       total_tokens, vocab_size,
       ((n_keep * 10000) // n_docs)::BIGINT AS quality_keep_bp
FROM base, tok, kq
"""


def q_frontier_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL page-type heuristics over the synthetic frontier — the
    article/hub/other triage a crawler runs before spending politeness
    budget (canonical.classify_url_kind)."""
    from .canonical import classify_url_kind

    fr = doc_frontier(spark, sf_dir)
    k = classify_url_kind("url")
    return fr.select(
        "rid",
        "url",
        k["depth"].alias("depth"),
        k["n_digits"].alias("n_digits"),
        k["has_date"].alias("has_date"),
        k["has_query"].alias("has_query"),
        k["kind"].alias("kind"),
    )


SQL_FRONTIER_CLASSIFY = rf"""
WITH {_frontier_cte()},
p AS (SELECT rid, url,
             regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path
      FROM frontier),
f AS (SELECT rid, url, path,
             (CASE WHEN path = '' THEN 0
                   ELSE len(string_split(path, '/')) - 1 END)::INT AS depth,
             length(regexp_replace(path, '[^0-9]', '', 'g'))::INT AS n_digits,
             regexp_matches(path, '/20[0-9]{{2}}[/-][01]?[0-9][/-]') AS has_date,
             contains(url, '?') AS has_query
      FROM p)
SELECT rid, url, depth, n_digits, has_date, has_query,
       CASE WHEN n_digits >= 6 OR has_date THEN 'article'
            WHEN depth <= 1 AND n_digits = 0 THEN 'hub'
            ELSE 'other' END AS kind
FROM f
"""


def q_kind_prioritize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-type-aware priority refinement over the synthetic frontier
    (canonical.kind_prioritize — the projection-only twin of
    rank_prioritize)."""
    from .canonical import kind_prioritize

    fr = doc_frontier(spark, sf_dir).select(
        "rid", "url", F.col("priority").cast("int").alias("priority")
    )
    return kind_prioritize(fr)


SQL_KIND_PRIORITIZE = rf"""
WITH {_frontier_cte()},
p AS (SELECT rid, url, priority,
             regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path
      FROM frontier),
f AS (SELECT rid, url, priority, path,
             (CASE WHEN path = '' THEN 0
                   ELSE len(string_split(path, '/')) - 1 END)::INT AS depth,
             length(regexp_replace(path, '[^0-9]', '', 'g'))::INT AS n_digits,
             regexp_matches(path, '/20[0-9]{{2}}[/-][01]?[0-9][/-]') AS has_date
      FROM p)
SELECT rid, url,
       (priority * 3 + CASE WHEN n_digits >= 6 OR has_date THEN 0
                            WHEN depth <= 1 AND n_digits = 0 THEN 2
                            ELSE 1 END)::INT AS priority
FROM f
"""


def q_host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site clusters over a group-partitioned edge subset (edges kept
    only when both endpoints hash to the same of 4 groups — guarantees
    a multi-component graph so the CC path is actually exercised)."""
    e = _doc_edges(spark, sf_dir)

    def grp(c: str):
        return F.pmod(md5_64(F.concat(F.lit("grp:"), F.col(c))), F.lit(4))

    return WG.host_components(e.filter(grp("src_host") == grp("dst_host")))


def _host_components_sql() -> str:
    gs = md5_64_sql("'grp:' || src_host")
    gd = md5_64_sql("'grp:' || dst_host")
    return f"""
WITH RECURSIVE {_SQL_EDGES_CTE.strip().rstrip(',')},
eg AS (SELECT src_host, dst_host FROM e WHERE {gs} % 4 = {gd} % 4),
nodes AS (SELECT src_host AS host FROM eg UNION SELECT dst_host FROM eg),
sym AS (SELECT src_host AS src, dst_host AS dst FROM eg
        WHERE src_host <> dst_host
        UNION
        SELECT dst_host, src_host FROM eg WHERE src_host <> dst_host),
reach(host, label) AS (
    SELECT host, host FROM nodes
    UNION
    SELECT s.src, r.label FROM reach r JOIN sym s ON s.dst = r.host
    WHERE r.label < s.src
),
lbl AS (SELECT host, min(label) AS component FROM reach GROUP BY host)
SELECT host, component,
       (count(*) OVER (PARTITION BY component))::BIGINT AS component_size
FROM lbl
"""


def q_rank_prioritize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc(spark, sf_dir, "documents").select(F.col("doc_id").cast("long"))
    frontier = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % _N_HOSTS).cast("string")).alias(
            "domain"
        ),
        (F.col("doc_id") % 3).cast("int").alias("priority"),
    )
    ranks = WG.host_rank(_doc_edges(spark, sf_dir))
    return WG.rank_prioritize(frontier, ranks)


def _rank_prioritize_sql() -> str:
    hi, lo = 2 * WG.RANK_SCALE, WG.RANK_SCALE
    return f"""
WITH f AS (SELECT doc_id, 'h' || (doc_id % {_N_HOSTS})::VARCHAR AS domain,
                  (doc_id % 3)::INT AS priority
           FROM documents),
hr AS (SELECT host, rank FROM ({_host_rank_sql()}) t)
SELECT f.doc_id, f.domain,
       (f.priority * 3 + CASE WHEN hr.rank >= {hi} THEN 0
                              WHEN hr.rank >= {lo} THEN 1
                              WHEN hr.rank IS NOT NULL THEN 2
                              ELSE 1 END)::INT AS priority
FROM f LEFT JOIN hr ON f.domain = hr.host
"""


def q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc(spark, sf_dir, "documents")
    links = docs.select(
        F.concat(
            F.lit("h"),
            (
                md5_64(F.concat(F.lit("edge:"), F.col("doc_id").cast("string"), F.lit(":0")))
                % _N_HOSTS
            ).cast("string"),
        ).alias("dst_host"),
        F.array_join(F.slice(TX.words("text"), 1, 2), " ").alias(
            "anchor"
        ),
    )
    return WG.anchor_stats(links)


SQL_ANCHOR_STATS = rf"""
WITH l AS (SELECT 'h' || ({md5_64_sql("'edge:' || doc_id::VARCHAR || ':0'")}
                          % {_N_HOSTS})::VARCHAR AS dst_host,
                  array_to_string((string_split_regex(trim(text), '\s+'))[1:2], ' ')
                      AS anchor
           FROM documents),
pa AS (SELECT dst_host, anchor, count(*)::BIGINT AS cnt FROM l GROUP BY 1, 2),
top AS (SELECT dst_host, anchor, cnt,
               row_number() OVER (PARTITION BY dst_host
                                  ORDER BY cnt DESC, anchor DESC) AS rn
        FROM pa),
s AS (SELECT dst_host, sum(cnt)::BIGINT AS n_links, count(*)::BIGINT AS n_anchors
      FROM pa GROUP BY 1)
SELECT s.dst_host, s.n_links, s.n_anchors,
       t.anchor AS top_anchor, t.cnt::BIGINT AS top_anchor_count
FROM s JOIN top t USING (dst_host) WHERE t.rn = 1
"""


def q_trap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    frontier = doc_frontier(spark, sf_dir).select(
        "url", F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1).alias("domain")
    )
    return WG.trap_detect(frontier)


def _trap_detect_sql() -> str:
    return f"""
WITH {_frontier_cte()},
fr AS (SELECT url, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS domain
       FROM frontier),
parts AS (SELECT domain,
                 regexp_replace(regexp_replace(url, '^[a-z]+://[^/]*', ''),
                                '\\?.*$', '') AS path,
                 CASE WHEN url LIKE '%?%' THEN 1 ELSE 0 END AS has_q
          FROM fr),
pp AS (SELECT domain, path, count(*)::BIGINT AS cnt, sum(has_q)::BIGINT AS q,
              max(len(string_split(path, '/')) - 1)::BIGINT AS depth
       FROM parts GROUP BY 1, 2),
st AS (SELECT domain, sum(cnt)::BIGINT AS n_urls, sum(q)::BIGINT AS n_query,
              count(*)::BIGINT AS n_paths, max(depth)::BIGINT AS max_depth
       FROM pp GROUP BY 1)
SELECT domain, n_urls, n_query,
       round(n_query / n_urls, 6) AS query_ratio,
       n_paths,
       round(n_paths / n_urls, 6) AS distinct_path_ratio,
       max_depth,
       ((n_urls >= {WG.TRAP_MIN_URLS})
        AND ((round(n_query / n_urls, 6) > {WG.TRAP_QUERY_MAX})
             OR (max_depth > {WG.TRAP_DEPTH_MAX}))) AS flagged
FROM st
"""


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _doc(spark, sf_dir, "events")
    visits = ev.select(
        (F.col("event_id") % 997).cast("long").alias("url_id"),
        F.unix_timestamp(F.col("ts")).alias("ts_epoch"),
        F.col("event_type").alias("content_fp"),
    )
    return WG.recrawl_schedule(visits)


def _recrawl_sql() -> str:
    arms = " ".join(
        f"WHEN change_ratio >= {lo} THEN {hours}" for lo, hours in WG.RECRAWL_BUCKETS
    )
    default = WG.RECRAWL_BUCKETS[-1][1]
    return f"""
WITH v AS (SELECT (event_id % 997)::BIGINT AS url_id,
                  floor(epoch(ts))::BIGINT AS ts_epoch,
                  event_type AS content_fp
           FROM events),
m AS (SELECT url_id, ts_epoch,
             CASE WHEN lag(content_fp) OVER w IS NOT NULL
                       AND content_fp <> lag(content_fp) OVER w
                  THEN 1 ELSE 0 END AS changed
      FROM v WINDOW w AS (PARTITION BY url_id ORDER BY ts_epoch, content_fp)),
a AS (SELECT url_id, count(*)::BIGINT AS n_visits, sum(changed)::BIGINT AS n_changes,
             max(ts_epoch)::BIGINT AS last_epoch
      FROM m GROUP BY 1),
r AS (SELECT url_id, n_visits, n_changes, last_epoch,
             CASE WHEN n_visits > 1 THEN round(n_changes / (n_visits - 1), 6)
                  ELSE 0.0 END AS change_ratio
      FROM a),
i AS (SELECT *, (CASE {arms} ELSE {default} END)::BIGINT AS interval_hours FROM r)
SELECT url_id, n_visits, n_changes, change_ratio, interval_hours,
       (last_epoch + interval_hours * 3600)::BIGINT AS next_fetch_epoch
FROM i
"""


# ---------------------------------------------------------------------------
# Inverted index (operators/postings.py) + boilerplate (corpusprep)
# ---------------------------------------------------------------------------


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PT.inverted_index(_doc(spark, sf_dir, "documents"))


SQL_INVERTED_INDEX = rf"""
WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
            FROM documents),
w AS (SELECT doc_id, unnest(ws) AS token FROM wl),
t AS (SELECT token, doc_id, count(*)::BIGINT AS tf
      FROM w WHERE token <> '' GROUP BY 1, 2),
tot AS (SELECT token, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tf_total
        FROM t GROUP BY 1),
r AS (SELECT token, doc_id, tf,
             row_number() OVER (PARTITION BY token
                                ORDER BY tf DESC, doc_id) AS rk
      FROM t)
SELECT token, df, tf_total, rk::INT AS rank, doc_id, tf
FROM r JOIN tot USING (token) WHERE rk <= {PT.TOP_K}
"""


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CP.strip_boilerplate(_doc(spark, sf_dir, "documents"))


SQL_BOILERPLATE_STRIP = rf"""
WITH wl AS (SELECT doc_id, source,
                   string_split_regex(trim(text), '\s+') AS ws
            FROM documents),
ix AS (SELECT doc_id, source, ws,
              unnest(range(CAST(ceil(len(ws) / {CP.SEG_TOKENS}.0) AS BIGINT))) AS i
       FROM wl),
seg AS (SELECT doc_id, source, i::INT AS seg_idx,
               array_to_string(ws[i*{CP.SEG_TOKENS}+1 : i*{CP.SEG_TOKENS}+{CP.SEG_TOKENS}], ' ') AS seg
        FROM ix),
sh AS (SELECT *, {md5_64_sql('seg')} AS h FROM seg),
sdf AS (SELECT source, h, count(DISTINCT doc_id)::BIGINT AS seg_df
        FROM sh GROUP BY 1, 2),
nd AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
b AS (SELECT source, h FROM sdf JOIN nd USING (source)
      WHERE seg_df >= {CP.BOILER_MIN_DOCS}
        AND seg_df * {CP.BOILER_FRAC_DEN} >= {CP.BOILER_FRAC_NUM} * n_docs),
m AS (SELECT s.doc_id, s.source, s.seg_idx, s.seg,
             (b.h IS NOT NULL) AS boiler
      FROM sh s LEFT JOIN b ON s.source = b.source AND s.h = b.h)
SELECT doc_id, source, count(*)::BIGINT AS n_segments,
       sum(CASE WHEN boiler THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
       coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE NOT boiler),
                '') AS text_clean
FROM m GROUP BY doc_id, source
"""


# ---------------------------------------------------------------------------
# Sketches (operators/sketches.py): count-min + HyperLogLog
# ---------------------------------------------------------------------------


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SK.cms_estimate(_doc(spark, sf_dir, "documents"))


def _sql_cms_counts() -> str:
    cell = "(" + md5_64_sql("'cms' || r::VARCHAR || ':' || token") + f" % {SK.CMS_W})"
    return rf"""
WITH wl AS (SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents),
t AS (SELECT token FROM (SELECT unnest(ws) AS token FROM wl) WHERE token <> ''),
tc AS (SELECT unnest(range({SK.CMS_D})) AS r, token FROM t),
sketch AS (SELECT r, {cell} AS cell, count(*)::BIGINT AS cell_count
           FROM tc GROUP BY 1, 2),
truth AS (SELECT token, count(*)::BIGINT AS true_count FROM t GROUP BY token),
pr AS (SELECT token, true_count FROM truth
       WHERE {md5_64_sql('token')} % {SK.CMS_PROBE_MOD} = 0),
pc AS (SELECT token, true_count, r, {cell} AS cell
       FROM (SELECT token, true_count, unnest(range({SK.CMS_D})) AS r FROM pr))
SELECT token, true_count, min(cell_count)::BIGINT AS cms_est
FROM pc JOIN sketch USING (r, cell) GROUP BY token, true_count
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SK.hll_distinct(_doc(spark, sf_dir, "documents"))


def _sql_hll_distinct() -> str:
    num = float(SK.HLL_ALPHA * SK.HLL_M * SK.HLL_M * float(2**62))
    return rf"""
WITH wl AS (SELECT source, string_split_regex(trim(text), '\s+') AS ws
            FROM documents),
w AS (SELECT DISTINCT source, token
      FROM (SELECT source, unnest(ws) AS token FROM wl) WHERE token <> ''),
h AS (SELECT source, {md5_64_sql('token')} AS h FROM w),
rk AS (SELECT source, (h % {SK.HLL_M})::INT AS reg,
              CASE WHEN (h >> 6) = 0 THEN {SK.HLL_RANK_CAP}
                   ELSE bit_count(((h >> 6) & -(h >> 6)) - 1) + 1 END AS rank
       FROM h),
regs AS (SELECT source, reg, max(rank) AS m_j FROM rk GROUP BY 1, 2),
grid AS (SELECT source, unnest(range({SK.HLL_M}))::INT AS reg
         FROM (SELECT DISTINCT source FROM documents)),
f AS (SELECT grid.source, coalesce(g.m_j, 0) AS m_j
      FROM grid LEFT JOIN regs g
        ON g.source = grid.source AND g.reg = grid.reg),
est AS (SELECT source,
               sum(CASE WHEN m_j > 0 THEN 1 ELSE 0 END)::BIGINT AS registers_hit,
               round({num!r} / (sum(((1::BIGINT) << (62 - m_j))::HUGEINT)::DOUBLE),
                     4) AS hll_estimate
        FROM f GROUP BY source),
ex AS (SELECT source, count(*)::BIGINT AS exact_distinct FROM w GROUP BY source)
SELECT source, registers_hit, exact_distinct, hll_estimate
FROM est JOIN ex USING (source)
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/tokenizer.py)
# ---------------------------------------------------------------------------
# The oracle re-learns the merges independently: a K-step unrolled CTE
# chain (count pairs → deterministic argmax → literal sentinel replace)
# over the same word-frequency collapse.  Chain shared by all three
# BPE oracles; see operators/tokenizer.py for the sentinel scheme.


# the three BPE queries share one training run (deterministic pure
# function of the corpus): train once per (session, sf_dir) and reuse
# the localCheckpointed word state — a verification harness runs all
# three back-to-back, and re-learning the identical merges costs ~17
# sequential jobs each time.  Keyed by applicationId so a new session
# (stopped JVM, invalid checkpoint blocks) retrains.
_BPE_CACHE: dict[tuple[str, str], tuple[list, DataFrame]] = {}


def _bpe_trained(spark: SparkSession, sf_dir: str) -> tuple[list, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BPE_CACHE:
        _BPE_CACHE.clear()  # never hold checkpoints of a dead session
        _BPE_CACHE[key] = BPE.train_bpe(_doc(spark, sf_dir, "documents"))
    return _BPE_CACHE[key]


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_trained(spark, sf_dir)
    return BPE.merges_df(spark, merges)


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, state = _bpe_trained(spark, sf_dir)
    return BPE.bpe_vocab(state)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc(spark, sf_dir, "documents")
    _, state = _bpe_trained(spark, sf_dir)
    return BPE.encode_docs(docs, state)


def _bpe_chain(k: int = BPE.N_MERGES) -> str:
    """The shared K-step merge-learning CTE chain; final word state is
    CTE ``s{k}`` (word, freq, s)."""
    parts = [rf"""wc AS (
  SELECT word, count(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        FROM documents)
  WHERE word <> '' AND regexp_matches(word, '{BPE.WORD_RE}')
        AND NOT contains(word, '|')
  GROUP BY word
),
s0 AS (SELECT word, freq,
              '|' || array_to_string(string_split(word, ''), '||') || '|' AS s
       FROM wc)"""]
    for i in range(k):
        parts.append(f"""y{i} AS (SELECT freq, string_split(trim(s, '|'), '||') AS syms FROM s{i}),
p{i} AS (SELECT syms[i+1] AS lhs, syms[i+2] AS rhs, freq
         FROM (SELECT syms, freq, unnest(range(len(syms) - 1)) AS i
               FROM y{i} WHERE len(syms) >= 2)),
b{i} AS (SELECT lhs, rhs, sum(freq)::BIGINT AS pair_count
         FROM p{i} GROUP BY lhs, rhs
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
s{i + 1} AS (SELECT word, freq,
             replace(s, '|' || b.lhs || '||' || b.rhs || '|',
                        '|' || b.lhs || b.rhs || '|') AS s
             FROM s{i}, b{i} AS b)""")
    return ",\n".join(parts)


def _sql_bpe_train(k: int = BPE.N_MERGES) -> str:
    ranks = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS merge_rank, lhs, rhs, lhs || rhs AS merged, "
        f"pair_count FROM b{i}"
        for i in range(k)
    )
    return f"WITH {_bpe_chain(k)}\n{ranks}"


def _sql_bpe_vocab(k: int = BPE.N_MERGES) -> str:
    return f"""
WITH {_bpe_chain(k)},
fin AS (SELECT word, freq, string_split(trim(s, '|'), '||') AS syms FROM s{k}),
tok AS (SELECT word, freq, unnest(syms) AS token FROM fin)
SELECT token, sum(freq)::BIGINT AS token_count,
       count(DISTINCT word)::BIGINT AS n_words
FROM tok GROUP BY token
"""


def _sql_bpe_encode(k: int = BPE.N_MERGES) -> str:
    return rf"""
WITH {_bpe_chain(k)},
enc AS (SELECT word,
               len(string_split(trim(s, '|'), '||'))::BIGINT AS n_syms
        FROM s{k}),
dw AS (SELECT doc_id,
              unnest(string_split_regex(trim(text), '\s+')) AS word
       FROM documents),
fw AS (SELECT doc_id, word FROM dw
       WHERE word <> '' AND regexp_matches(word, '{BPE.WORD_RE}')
             AND NOT contains(word, '|'))
SELECT doc_id, count(*)::BIGINT AS n_words,
       sum(n_syms)::BIGINT AS n_bpe_tokens
FROM fw JOIN enc USING (word) GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Ranked retrieval (operators/retrieval.py): BM25 + TF-IDF profiles
# ---------------------------------------------------------------------------
# Shared DuckDB CTE: tokens with their ORIGINAL split positions, empties
# filtered after indexing — exactly Spark's posexplode→filter, so
# adjacency (for the LM bigrams) breaks at empty tokens identically.

_SQL_TOKENS_INDEXED = r"""
wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
       FROM documents),
t AS (SELECT doc_id, i, ws[i+1] AS token
      FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS i FROM wl)
      WHERE ws[i+1] <> '')"""


def _bm25_demo_terms(docs: DataFrame) -> DataFrame:
    """Demo query set: top-8 tokens by (df DESC, token ASC), two terms
    per query → query_ids 0..3.  The single-partition window is over
    |vocab| rows of (token, df) — query derivation is harness plumbing,
    not the scored path (production supplies its own query table)."""
    from pyspark.sql import Window

    tf, _ = RET.corpus_stats(docs)
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = Window.orderBy(F.desc("df"), F.asc("token"))
    return (
        df_tbl.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 8)
        .select(
            F.floor((F.col("r") - 1) / 2).cast("int").alias("query_id"), "token"
        )
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc(spark, sf_dir, "documents")
    return RET.bm25_topk(docs, _bm25_demo_terms(docs))


SQL_BM25_TOPK = rf"""
WITH {_SQL_TOKENS_INDEXED},
tf AS (SELECT token, doc_id, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM t GROUP BY 1),
nt AS (SELECT count(*)::BIGINT AS n FROM documents),
sd AS (SELECT sum(dl)::BIGINT AS sum_dl FROM dl),
dfb AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT ((r - 1) // 2)::INT AS query_id, token
       FROM (SELECT token,
                    row_number() OVER (ORDER BY df DESC, token) AS r
             FROM dfb)
       WHERE r <= 8),
s AS (SELECT q.query_id, f.doc_id,
             round(ln(1.0::DOUBLE + ((n - df)::DOUBLE + 0.5::DOUBLE)
                                    / (df::DOUBLE + 0.5::DOUBLE))
                   * (f.tf * {RET.K1 + 1.0!r}::DOUBLE)
                   / (f.tf + {RET.K1!r}::DOUBLE
                      * ({1.0 - RET.B!r}::DOUBLE
                         + {RET.B!r}::DOUBLE * dl / (sum_dl / n)))
                   * {RET.SCORE_SCALE}, 0)::BIGINT AS part
      FROM tf f
      JOIN dfb USING (token)
      JOIN qt q USING (token)
      JOIN dl USING (doc_id), nt, sd),
pd AS (SELECT query_id, doc_id, sum(part)::BIGINT AS score_scaled,
              count(*)::BIGINT AS n_terms
       FROM s GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, n_terms, score_scaled,
             (row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_scaled DESC, doc_id))::INT AS rank
      FROM pd)
SELECT query_id, doc_id, rank, n_terms,
       score_scaled / {RET.SCORE_SCALE}.0 AS score
FROM r WHERE rank <= {RET.TOP_K}
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RET.tfidf_top_terms(_doc(spark, sf_dir, "documents"))


SQL_TFIDF_TERMS = rf"""
WITH {_SQL_TOKENS_INDEXED},
tf AS (SELECT token, doc_id, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
nt AS (SELECT count(*)::BIGINT AS n FROM documents),
dfb AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
s AS (SELECT f.doc_id, f.token, f.tf, df,
             f.tf * (round(ln(n / df) * {RET.SCORE_SCALE}, 0)::BIGINT) AS w_scaled
      FROM tf f JOIN dfb USING (token), nt),
r AS (SELECT doc_id, token, tf, df, w_scaled,
             (row_number() OVER (PARTITION BY doc_id
                                 ORDER BY w_scaled DESC, token))::INT AS rank
      FROM s)
SELECT doc_id, rank, token, tf, df,
       w_scaled / {RET.SCORE_SCALE}.0 AS tfidf
FROM r WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# N-gram LM scoring (operators/lmscore.py)
# ---------------------------------------------------------------------------

_SQL_LM_MODEL = rf"""
bg AS (SELECT p.token AS w1, c.token AS w2, count(*)::BIGINT AS c2
       FROM t p JOIN t c ON p.doc_id = c.doc_id AND c.i = p.i + 1
       GROUP BY 1, 2),
uni AS (SELECT token, count(*)::BIGINT AS c1 FROM t GROUP BY 1)"""


def q_lm_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return LM.lm_bigram_table(_doc(spark, sf_dir, "documents"))


SQL_LM_BIGRAMS = rf"""
WITH {_SQL_TOKENS_INDEXED},
{_SQL_LM_MODEL}
SELECT w1, w2, c2, c1 AS c1_w1 FROM bg JOIN uni ON uni.token = bg.w1
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return LM.lm_perplexity(_doc(spark, sf_dir, "documents"))


def _sql_lm_perplexity() -> str:
    import math

    log_alpha = math.log(LM.ALPHA)
    return rf"""
WITH {_SQL_TOKENS_INDEXED},
{_SQL_LM_MODEL},
tot AS (SELECT sum(c1)::BIGINT AS t_total FROM uni),
seq AS (SELECT c.doc_id, c.i, c.token, p.token AS prev_token
        FROM t c LEFT JOIN t p ON p.doc_id = c.doc_id AND p.i = c.i - 1),
j AS (SELECT s.doc_id, s.token, s.prev_token,
             cu.c1 AS c1_cur, pu.c1 AS c1_prev, b.c2 AS c2_pair, t_total
      FROM seq s
      JOIN uni cu ON cu.token = s.token
      LEFT JOIN uni pu ON pu.token = s.prev_token
      LEFT JOIN bg b ON b.w1 = s.prev_token AND b.w2 = s.token, tot),
l AS (SELECT doc_id,
             CASE WHEN prev_token IS NULL THEN ln(c1_cur / t_total)
                  WHEN c2_pair IS NOT NULL THEN ln(c2_pair / c1_prev)
                  ELSE ({log_alpha!r}::DOUBLE) + ln(c1_cur / t_total)
             END AS logp,
             CASE WHEN prev_token IS NOT NULL AND c2_pair IS NULL
                  THEN 1 ELSE 0 END AS backoff
      FROM j),
pd AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
              sum(backoff)::BIGINT AS n_backoff,
              sum(round(logp * {LM.LOGP_SCALE}, 0)::BIGINT)::BIGINT
                AS logprob_scaled
       FROM l GROUP BY 1)
SELECT doc_id, n_tokens, n_backoff, logprob_scaled,
       round(exp(-logprob_scaled / {LM.LOGP_SCALE}.0 / n_tokens), 4) AS ppl
FROM pd
"""


# ---------------------------------------------------------------------------
# Hashed-feature linear classifier (operators/classify.py)
# ---------------------------------------------------------------------------


def q_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    weights = CLS.hashed_weights(spark.range(CLS.N_BUCKETS))
    return CLS.classify_docs(_doc(spark, sf_dir, "documents"), weights)


def _sql_hashed_classifier() -> str:
    half = (CLS.W_SPAN - 1) // 2
    return rf"""
WITH {_SQL_TOKENS_INDEXED},
wt AS (SELECT r::INT AS bucket,
              ({md5_64_sql("'w:' || r::VARCHAR")} % {CLS.W_SPAN}
               - {half})::BIGINT AS w_milli
       FROM (SELECT unnest(range({CLS.N_BUCKETS})) AS r)),
tb AS (SELECT doc_id,
              ({md5_64_sql("'f:' || token")} % {CLS.N_BUCKETS})::INT AS bucket
       FROM t),
pd AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
              sum(w_milli)::BIGINT AS score_milli_sum
       FROM tb JOIN wt USING (bucket) GROUP BY 1)
SELECT doc_id, n_tokens, score_milli_sum,
       score_milli_sum / (n_tokens * 1000.0::DOUBLE) AS score,
       (score_milli_sum > {CLS.THRESHOLD_MILLI} * n_tokens) AS label
FROM pd
"""


def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CUR.dup_span_fraction(_doc(spark, sf_dir, "documents"))


SQL_DUP_SPAN_FRACTION = rf"""
WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
            FROM documents),
g0 AS (SELECT doc_id, ws, unnest(range(len(ws) - 4)) AS i
       FROM wl WHERE len(ws) >= 5),
g1 AS (SELECT doc_id,
              ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
                      || ' ' || ws[i+5] AS s
       FROM g0),
sh AS (SELECT DISTINCT doc_id, {md5_64_sql('s')} AS sh FROM g1),
dfb AS (SELECT sh, count(*)::BIGINT AS df FROM sh GROUP BY 1),
pd AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
              sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
       FROM sh JOIN dfb USING (sh) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(n_grams, 0)::BIGINT AS n_grams,
       coalesce(n_dup, 0)::BIGINT AS n_dup,
       CASE WHEN coalesce(n_grams, 0) > 0 THEN n_dup / n_grams
            ELSE 0.0::DOUBLE END AS dup_frac
FROM documents d LEFT JOIN pd USING (doc_id)
"""


DOC_EMBED_DIM = 16


def q_doc_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed doc embeddings, FLATTENED to (doc_id, n_tokens, d,
    component) rows so the oracle hash-compares scalars (the operator
    itself returns the array form)."""
    emb = CLS.hashed_doc_embedding(
        _doc(spark, sf_dir, "documents"), dim=DOC_EMBED_DIM
    )
    return emb.select(
        "doc_id", "n_tokens",
        F.posexplode("embedding").alias("d", "component"),
    )


def _sql_doc_embed() -> str:
    half = (CLS.W_SPAN - 1) // 2
    wh = md5_64_sql("'e:' || d::VARCHAR || ':' || token")
    return rf"""
WITH {_SQL_TOKENS_INDEXED},
tb AS (SELECT doc_id, d, ({wh} % {CLS.W_SPAN} - {half})::BIGINT AS w
       FROM (SELECT doc_id, token, unnest(range({DOC_EMBED_DIM})) AS d FROM t)),
n AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM t GROUP BY 1),
pd AS (SELECT doc_id, d, sum(w)::BIGINT AS s FROM tb GROUP BY 1, 2)
SELECT doc_id, n_tokens, d::INT AS d,
       s / (n_tokens * 1000.0::DOUBLE) AS component
FROM pd JOIN n USING (doc_id)
"""


def q_decontaminate_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _doc(spark, sf_dir, "embeddings")
    evalset = emb.filter(F.col("vec_id") < 8)
    # exclude_self=True ONLY because this demo draws the eval set from
    # the corpus itself; external eval sets keep the default False
    return CUR.decontaminate_embeddings(emb, evalset, exclude_self=True)


SQL_DECONTAMINATE_EMBED = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
ev AS (SELECT vec_id AS eval_id, e AS ee FROM v WHERE vec_id < 8),
h AS (SELECT v.vec_id, count(*)::BIGINT AS n_hits
      FROM v, ev
      WHERE v.vec_id <> eval_id
        AND list_dot_product(e, ee)
            / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ee, ee)))
            >= 0.35::DOUBLE
      GROUP BY v.vec_id)
SELECT v.vec_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
       (coalesce(n_hits, 0) > 0) AS contaminated
FROM v LEFT JOIN h USING (vec_id)
"""


# ---------------------------------------------------------------------------
# Profiling + adaptive politeness (operators/profiling.py)
# ---------------------------------------------------------------------------


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PF.length_quantiles(_doc(spark, sf_dir, "documents"))


SQL_LENGTH_QUANTILES = """
WITH r AS (SELECT source AS stratum, n_chars AS v, doc_id,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS rn,
                  count(*) OVER (PARTITION BY source) AS c
           FROM documents)
SELECT stratum, count(*)::BIGINT AS n,
       max(CASE WHEN rn = (c * 50 + 99) // 100 THEN v END)::BIGINT AS p50,
       max(CASE WHEN rn = (c * 90 + 99) // 100 THEN v END)::BIGINT AS p90,
       max(CASE WHEN rn = (c * 99 + 99) // 100 THEN v END)::BIGINT AS p99
FROM r GROUP BY stratum
"""


def q_adaptive_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic fetch outcomes (profiling.synthetic_fetch_log: md5-derived
    latency in [50, 2050), ~15 % errors) feed the AIMD budget update
    against the standard per-platform budget table."""
    log = PF.synthetic_fetch_log(_identity_frontier(spark, sf_dir))
    budgets, _ = _budget_tables(spark)
    return PF.adaptive_budget(log, budgets)


def _sql_adaptive_budget() -> str:
    b_rows = ", ".join(
        f"('{URL_SHAPES[p][0]}', {_capacity(i)})"
        for i, p in enumerate(PLATFORMS)
    )
    lat_h = md5_64_sql("'lat:' || url")
    ok_h = md5_64_sql("'ok:' || url")
    lat = f"(50 + {lat_h} % 2000)"
    ok = f"({ok_h} % 100 >= 15)"
    return rf"""
WITH {_frontier_cte()},
b AS (SELECT * FROM (VALUES {b_rows}) t(domain, capacity)),
log AS (SELECT domain, url, {lat}::BIGINT AS latency_ms, {ok} AS ok
        FROM frontier),
rk AS (SELECT domain, url, latency_ms, ok,
              row_number() OVER (PARTITION BY domain
                                 ORDER BY latency_ms, url) AS rn,
              count(*) OVER (PARTITION BY domain) AS c
       FROM log),
st AS (SELECT domain, count(*)::BIGINT AS n_fetches,
              sum(CASE WHEN NOT ok THEN 1 ELSE 0 END)::BIGINT AS n_err,
              max(CASE WHEN rn = (c * 90 + 99) // 100
                       THEN latency_ms END)::BIGINT AS p90_latency
       FROM rk GROUP BY domain),
j AS (SELECT b.domain, b.capacity, st.n_fetches, st.n_err, st.p90_latency,
             (st.n_err * 10000) // st.n_fetches AS err_bp
      FROM b LEFT JOIN st USING (domain))
SELECT domain,
       coalesce(n_fetches, 0)::BIGINT AS n_fetches,
       coalesce(err_bp, 0)::BIGINT AS err_bp,
       coalesce(p90_latency, 0)::BIGINT AS p90_latency,
       capacity::INT AS capacity,
       (CASE WHEN n_fetches IS NULL THEN capacity
             WHEN err_bp > {PF.ERR_BP_HALVE} OR p90_latency > {PF.LAT_P90_HALVE}
               THEN greatest({PF.CAP_MIN}, capacity // 2)
             ELSE least({PF.CAP_MAX}, capacity + 1) END)::INT AS next_capacity
FROM j
"""


# ---------------------------------------------------------------------------
# Embedding k-means + SemDeDup (operators/clustering.py)
# ---------------------------------------------------------------------------
# The oracle re-runs Lloyd's iterations as an unrolled CTE chain over
# the same md5-derived literal init centroids; distances are the shared
# sequential-fold recipe, centroid updates exact-integer divisions, so
# assignment matches bit-for-bit.

KM_DIM = 64


def _sql_kmeans_chain(
    dim: int = KM_DIM,
    k: int = CLU.K,
    iters: int = CLU.ITERS,
    seed: int = CLU.SEED,
) -> str:
    cents = CLU.init_centroids(dim, k, seed)
    c0_rows = ", ".join(
        f"({cid}, [{', '.join(repr(x) for x in cen)}]::DOUBLE[])"
        for cid, cen in enumerate(cents)
    )
    d2 = (
        "list_dot_product(v, v) - 2.0::DOUBLE * list_dot_product(v, cen)"
        " + list_dot_product(cen, cen)"
    )
    parts = [
        f"c0 AS (SELECT * FROM (VALUES {c0_rows}) t(cid, cen))",
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
    ]
    for i in range(iters):
        parts.append(
            f"""a{i} AS (SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         FROM (SELECT vec_id, v, cid, {d2} AS d2 FROM v, c{i})),
m{i} AS (SELECT cid, d, sum(round(v[d+1] * {CLU.Q_SCALE}, 0)::BIGINT)::BIGINT AS s,
                count(*)::BIGINT AS n
         FROM (SELECT cid, v, unnest(range(len(v))) AS d
               FROM a{i} WHERE rn = 1)
         GROUP BY 1, 2),
u{i} AS (SELECT cid, list(s / (n * {CLU.Q_SCALE}.0) ORDER BY d) AS cen
         FROM m{i} GROUP BY cid),
c{i + 1} AS (SELECT cid, cen FROM u{i}
             UNION ALL
             SELECT cid, cen FROM c{i}
             WHERE cid NOT IN (SELECT cid FROM u{i}))"""
        )
    parts.append(
        f"""fd AS (SELECT vec_id, v, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         FROM (SELECT vec_id, v, cid, {d2} AS d2 FROM v, c{iters}))"""
    )
    return ",\n".join(parts)


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CLU.kmeans_assign(_doc(spark, sf_dir, "embeddings"), dim=KM_DIM)


def _sql_kmeans_assign() -> str:
    return f"""
WITH {_sql_kmeans_chain()}
SELECT vec_id, cid::INT AS cluster, round(d2, 6) AS sq_dist
FROM fd WHERE rn = 1
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CLU.semdedup(_doc(spark, sf_dir, "embeddings"), dim=KM_DIM)


def _sql_semdedup() -> str:
    return f"""
WITH {_sql_kmeans_chain()},
asg AS (SELECT vec_id, v, cid FROM fd WHERE rn = 1),
p AS (SELECT b.vec_id AS vb
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v)))
            >= {CLU.SEM_THRESHOLD!r}::DOUBLE),
dr AS (SELECT DISTINCT vb AS vec_id FROM p)
SELECT asg.vec_id, cid::INT AS cluster,
       (dr.vec_id IS NOT NULL) AS dropped
FROM asg LEFT JOIN dr USING (vec_id)
"""


# ---------------------------------------------------------------------------
# Sampling + shard layout (operators/sampling.py)
# ---------------------------------------------------------------------------


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc(spark, sf_dir, "documents")
    return SMP.sample_stratified(docs, SMP.stratified_rates(docs))


SQL_SAMPLE_STRATIFIED = rf"""
WITH r AS (SELECT source AS stratum,
                  (500 + {md5_64_sql("'rate:' || source")} % 9000)::INT AS rate_bp
           FROM (SELECT DISTINCT source FROM documents)),
s AS (SELECT doc_id, source AS stratum,
             ({md5_64_sql("'smp:' || doc_id::VARCHAR")} % {SMP.RATE_DENOM})::INT
               AS bucket
      FROM documents)
SELECT doc_id, s.stratum, rate_bp, bucket
FROM s JOIN r ON s.stratum = r.stratum
WHERE bucket < rate_bp
"""

SAMPLE_BALANCED_K = 10


def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SMP.sample_balanced(
        _doc(spark, sf_dir, "documents"), k=SAMPLE_BALANCED_K
    )


SQL_SAMPLE_BALANCED = rf"""
SELECT doc_id, stratum, draw_rank FROM (
  SELECT doc_id, source AS stratum,
         (row_number() OVER (
            PARTITION BY source
            ORDER BY {md5_64_sql("'bal:' || doc_id::VARCHAR")}, doc_id))::INT
           AS draw_rank
  FROM documents)
WHERE draw_rank <= {SAMPLE_BALANCED_K}
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SMP.shuffle_shards(_doc(spark, sf_dir, "documents"))


SQL_SHUFFLE_SHARDS = rf"""
WITH s AS (SELECT doc_id,
                  ({md5_64_sql("'shard:' || doc_id::VARCHAR")}
                   % {SMP.N_SHARDS})::INT AS shard,
                  {md5_64_sql("'pos:' || doc_id::VARCHAR")} AS ph
           FROM documents)
SELECT doc_id, shard,
       (row_number() OVER (PARTITION BY shard ORDER BY ph, doc_id))::INT AS pos
FROM s
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def _tuned(fn: Callable[[SparkSession, str], DataFrame]):
    """Apply session.tune() (constraint-propagation off, UTC, Arrow) to
    the harness-owned session before building the query plan."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .session import tune

        tune(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


_RAW_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "anchor_stats": q_anchor_stats,
    "trap_detect": q_trap_detect,
    "recrawl_schedule": q_recrawl_schedule,
    "inverted_index": q_inverted_index,
    "boilerplate_strip": q_boilerplate_strip,
    "cms_counts": q_cms_counts,
    "hll_distinct": q_hll_distinct,
    "bpe_train": q_bpe_train,
    "bpe_vocab": q_bpe_vocab,
    "bpe_encode": q_bpe_encode,
    "bm25_topk": q_bm25_topk,
    "tfidf_terms": q_tfidf_terms,
    "lm_bigrams": q_lm_bigrams,
    "lm_perplexity": q_lm_perplexity,
    "hashed_classifier": q_hashed_classifier,
    "kmeans_assign": q_kmeans_assign,
    "semdedup": q_semdedup,
    "length_quantiles": q_length_quantiles,
    "adaptive_budget": q_adaptive_budget,
    "doc_embed": q_doc_embed,
    "decontaminate_embed": q_decontaminate_embed,
    "dup_span_fraction": q_dup_span_fraction,
    "media_neardup": q_media_neardup,
    "sample_stratified": q_sample_stratified,
    "sample_balanced": q_sample_balanced,
    "shuffle_shards": q_shuffle_shards,
    "search_sweep": q_search_sweep,
    "stream_metrics": q_stream_metrics,
    "stream_sessionize": q_stream_sessionize,
    "url_canonicalize": q_url_canonicalize,
    "frontier_dedup": q_frontier_dedup,
    "seen_antijoin": q_seen_antijoin,
    "seen_cuckoo": q_seen_cuckoo,
    "politeness_schedule": q_politeness_schedule,
    "politeness_deferred": q_politeness_deferred,
    "span_projections": q_span_projections,
    "span_dedup": q_span_dedup,
    "markdown_render": q_markdown_render,
    "media_manifest": q_media_manifest,
    "dedup_exact": q_dedup_exact,
    "rolling_fingerprint": q_rolling_fingerprint,
    "jaccard_pairs": q_jaccard_pairs,
    "minhash_lsh": q_minhash_lsh,
    "incremental_neardup": q_incremental_neardup,
    "incremental_neardup_capped": q_incremental_neardup_capped,
    "dup_clusters": q_dup_clusters,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "text_stats": q_text_stats,
    "token_stats_by_source": q_token_stats_by_source,
    "vocab_topk": q_vocab_topk,
    "decontaminate": q_decontaminate,
    "quality_filter": q_quality_filter,
    "pii_scrub": q_pii_scrub,
    "curate_pipeline": q_curate_pipeline,
    "robots_rules": q_robots_rules,
    "sitemap_discover": q_sitemap_discover,
    "sitemap_parse": q_sitemap_parse,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embed_neardup": q_embed_neardup,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_features": q_multimodal_features,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frames": q_multimodal_frames,
    "events_tumbling": q_events_tumbling,
    "events_sessionize": q_events_sessionize,
    "segment_dedup": q_segment_dedup,
    "domain_mix": q_domain_mix,
    "pack_sequences": q_pack_sequences,
    "repetition_stats": q_repetition_stats,
    "train_split": q_train_split,
    "host_rank": q_host_rank,
    "host_components": q_host_components,
    "frontier_classify": q_frontier_classify,
    "kind_prioritize": q_kind_prioritize,
    "corpus_report": q_corpus_report,
    "rank_prioritize": q_rank_prioritize,
}

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _tuned(fn) for name, fn in _RAW_QUERIES.items()
}

ORACLES: dict[str, str] = {
    "url_canonicalize": SQL_URL_CANONICALIZE,
    "frontier_dedup": SQL_FRONTIER_DEDUP,
    "seen_antijoin": SQL_SEEN_ANTIJOIN,
    "seen_cuckoo": SQL_SEEN_CUCKOO,
    "politeness_schedule": SQL_POLITENESS_SCHEDULE,
    "politeness_deferred": SQL_POLITENESS_DEFERRED,
    "span_projections": SQL_SPAN_PROJECTIONS,
    "span_dedup": SQL_SPAN_DEDUP,
    "markdown_render": SQL_MARKDOWN_RENDER,
    "media_manifest": SQL_MEDIA_MANIFEST,
    "dedup_exact": SQL_DEDUP_EXACT,
    "rolling_fingerprint": SQL_ROLLING_FINGERPRINT,
    "jaccard_pairs": SQL_JACCARD_PAIRS,
    "minhash_lsh": SQL_MINHASH_LSH,
    "incremental_neardup": SQL_INCREMENTAL_NEARDUP,
    "incremental_neardup_capped": SQL_INCREMENTAL_NEARDUP_CAPPED,
    "dup_clusters": SQL_DUP_CLUSTERS,
    "simhash": SQL_SIMHASH,
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "text_stats": SQL_TEXT_STATS,
    "token_stats_by_source": SQL_TOKEN_STATS_BY_SOURCE,
    "vocab_topk": SQL_VOCAB_TOPK,
    "decontaminate": SQL_DECONTAMINATE,
    "quality_filter": SQL_QUALITY_FILTER,
    "pii_scrub": SQL_PII_SCRUB,
    "curate_pipeline": SQL_CURATE_PIPELINE,
    "robots_rules": SQL_ROBOTS_RULES,
    "sitemap_discover": SQL_SITEMAP_DISCOVER,
    "sitemap_parse": SQL_SITEMAP_PARSE,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "ann_lsh_topk": SQL_ANN_LSH_TOPK,
    "ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "embed_neardup": SQL_EMBED_NEARDUP,
    "multimodal_decode": SQL_MULTIMODAL_DECODE,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "multimodal_resize": SQL_MULTIMODAL_RESIZE,
    "multimodal_frames": SQL_MULTIMODAL_FRAMES,
    "events_tumbling": SQL_EVENTS_TUMBLING,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "segment_dedup": SQL_SEGMENT_DEDUP,
    "domain_mix": SQL_DOMAIN_MIX,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "repetition_stats": SQL_REPETITION_STATS,
    "train_split": SQL_TRAIN_SPLIT,
    "host_rank": _host_rank_sql(),
    "host_components": _host_components_sql(),
    "frontier_classify": SQL_FRONTIER_CLASSIFY,
    "kind_prioritize": SQL_KIND_PRIORITIZE,
    "corpus_report": _sql_corpus_report(),
    "rank_prioritize": _rank_prioritize_sql(),
    "anchor_stats": SQL_ANCHOR_STATS,
    "trap_detect": _trap_detect_sql(),
    "recrawl_schedule": _recrawl_sql(),
    "inverted_index": SQL_INVERTED_INDEX,
    "boilerplate_strip": SQL_BOILERPLATE_STRIP,
    "cms_counts": _sql_cms_counts(),
    "hll_distinct": _sql_hll_distinct(),
    "bpe_train": _sql_bpe_train(),
    "bpe_vocab": _sql_bpe_vocab(),
    "bpe_encode": _sql_bpe_encode(),
    "bm25_topk": SQL_BM25_TOPK,
    "tfidf_terms": SQL_TFIDF_TERMS,
    "lm_bigrams": SQL_LM_BIGRAMS,
    "lm_perplexity": _sql_lm_perplexity(),
    "hashed_classifier": _sql_hashed_classifier(),
    "kmeans_assign": _sql_kmeans_assign(),
    "semdedup": _sql_semdedup(),
    "length_quantiles": SQL_LENGTH_QUANTILES,
    "adaptive_budget": _sql_adaptive_budget(),
    "doc_embed": _sql_doc_embed(),
    "decontaminate_embed": SQL_DECONTAMINATE_EMBED,
    "dup_span_fraction": SQL_DUP_SPAN_FRACTION,
    "media_neardup": _sql_media_neardup(),
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "sample_balanced": SQL_SAMPLE_BALANCED,
    "shuffle_shards": SQL_SHUFFLE_SHARDS,
    "search_sweep": SQL_SEARCH_SWEEP,
    "stream_metrics": SQL_STREAM_METRICS,
    # the drained AvailableNow result of the stateful sessionizer is
    # bit-identical to batch sessionize by construction, so the batch
    # SQL is the oracle for the genuinely-streaming operator
    "stream_sessionize": SQL_EVENTS_SESSIONIZE,
}
