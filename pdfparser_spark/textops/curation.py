"""Training-corpus curation operators: benchmark decontamination, PII
detection/scrubbing, token-window chunking, canonical-document selection.

Four operators every large-scale LLM data pipeline runs between raw
extraction and training, each expressed as pure JVM DataFrame algebra
(no Python in the hot path) with a bit-exact DuckDB oracle mirror in
``__spark_entry__``:

  * ``decontaminate`` — benchmark contamination check (the n-gram-overlap
    test popularized by GPT-3 appendix C / PaLM §B: drop or flag training
    documents sharing n-grams with an evaluation set).  The eval set's
    distinct shingles are a SMALL table by construction (benchmarks are
    thousands of docs; the corpus is billions), so the membership probe
    is a broadcast semi-join against the exploded training shingles —
    the only shuffle is the per-doc overlap count, keyed by doc_id.
  * ``pii_scrub`` — regex detection + redaction of emails / phone
    numbers / IPv4 addresses (the C4-style cleanup pass).  Detection and
    replacement are JVM ``regexp_count`` / ``regexp_replace`` (RE2-safe
    patterns: no backreferences, no lookaround, so the DuckDB oracle
    runs the SAME expressions).  Pure per-row projection: zero shuffle.
  * ``token_chunks`` — fixed-size sliding token windows (size 32,
    stride 24): the standard context-window packing step before
    tokenization.  ``sequence``+``transform``+``explode`` fan-out, all
    row-local; output is ~n_tokens/stride rows per doc and never
    shuffles.
  * ``canonical_docs`` — one representative per duplicate cluster: join
    the LSH connected-component labels (textops/dedup.py) with the
    quality scores (textops/textqc.py) and take argmax(quality, min
    doc_id tie-break) per cluster as a single max-of-struct aggregate —
    one shuffle keyed by cluster_id, no window re-sort.

Scale notes (100 TB): decontaminate's eval-gram table stays broadcast-
sized regardless of corpus growth; pii_scrub and token_chunks are
embarrassingly parallel map stages; canonical_docs aggregates only the
clustered subset (docs in >=1 candidate pair), which is orders of
magnitude smaller than the corpus.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup, textqc
from ..rounding import r4
from ..runner import map_rows

# Deterministic eval-set membership for the decontamination demo: every
# (doc_id % EVAL_MOD == EVAL_REM)th document plays the benchmark role.
EVAL_MOD = 10
EVAL_REM = 7

CHUNK_SIZE = 32
CHUNK_STRIDE = 24

# RE2-safe PII patterns (no backreferences / lookaround): the exact same
# strings compile under Java regex (Spark) and RE2 (DuckDB) with
# identical semantics on this character-class subset.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+1-555-[0-9]{4}"
IPV4_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


def decontaminate(documents: DataFrame, n: int = 3) -> DataFrame:
    """Flag training documents whose word n-grams overlap the eval set.

    Returns one row per TRAINING document: (doc_id, n_grams, n_overlap,
    overlap_frac, contaminated) where ``contaminated`` is the >=20%%
    overlap rule stated integer-exactly (n_overlap*5 >= n_grams) so both
    engines decide identically without double comparisons.
    """
    sh = dedup.shingles_expr("text", n)
    is_eval = F.col("doc_id") % EVAL_MOD == EVAL_REM
    eval_grams = (
        documents.filter(is_eval)
        .select(F.explode(sh).alias("gram"))
        .distinct()
    )
    train = documents.filter(~is_eval)
    train_grams = train.select("doc_id", F.explode(sh).alias("gram"))
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    base = train.select("doc_id", F.size(sh).alias("n_grams"))
    out = base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias("n_overlap"),
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        r4(
            F.col("n_overlap").cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
        ).alias("overlap_frac"),
        ((F.col("n_overlap") > 0) & (F.col("n_overlap") * 5 >= F.col("n_grams"))).alias(
            "contaminated"
        ),
    )


def _pii_text():
    """Deterministically derived PII-bearing text (the synthetic corpus has
    no natural PII, so — same pattern as the media/extract payloads — each
    doc gets a reproducible contact block keyed by doc_id, built with
    engine-portable string ops; the DETECTOR below is the real operator)."""
    d = F.col("doc_id")
    email = F.when(
        d % 3 != 0,
        F.concat(
            F.lit(" contact u"),
            d.cast("string"),
            F.lit("@m"),
            (d % 5).cast("string"),
            F.lit(".example.com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % 4 == 1,
        F.concat(F.lit(" call +1-555-"), F.lpad((d % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    ip = F.when(
        d % 5 == 2,
        F.concat(
            F.lit(" from 192.168."),
            (d % 256).cast("string"),
            F.lit("."),
            ((d * 7) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone, ip)


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Detect and redact emails / phone numbers / IPv4s; emit per-doc
    counts, the scrubbed text's md5, and how many characters redaction
    removed.  Replacement order email -> phone -> ip (the email pattern
    would otherwise eat the '<PHONE>' token's neighbors is moot — tokens
    contain no '@' — but a fixed order keeps both engines identical)."""
    raw = _pii_text()
    n_emails = F.regexp_count(raw, F.lit(EMAIL_RE))
    n_phones = F.regexp_count(raw, F.lit(PHONE_RE))
    n_ips = F.regexp_count(raw, F.lit(IPV4_RE))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IPV4_RE,
        "<IP>",
    )
    return documents.select(
        "doc_id",
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        n_ips.cast("int").alias("n_ips"),
        (F.length(raw) - F.length(scrubbed)).cast("int").alias("n_chars_redacted"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def token_chunks(
    documents: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Overlapping fixed-size token windows: chunk i covers tokens
    [i*stride, i*stride+size).  Every document yields at least one chunk;
    the last chunk may be short.  (doc_id, chunk_idx, start_tok, n_tok,
    chunk_md5)."""
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    n_starts = (
        F.lit(1)
        + F.greatest(F.ceil((n - F.lit(size)) / F.lit(float(stride))), F.lit(0))
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_starts - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (i * stride).cast("int").alias("start_tok"),
            F.least(F.lit(size), n - i * stride).cast("int").alias("n_tok"),
            F.md5(F.concat_ws(" ", F.slice(w, i * stride + 1, size))).alias("chunk_md5"),
        ),
    )
    return (
        documents.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.start_tok", "c.n_tok", "c.chunk_md5")
    )


def domain_mix(documents: DataFrame, key: str = "lang") -> DataFrame:
    """Fair-share domain rebalancing: cap every domain (default: language,
    the skewed axis of the corpus) at its fair share ceil(total/n_domains)
    by hash-threshold downsampling (DoReMi-style static reweighting
    reduced to its deterministic core).

    The keep decision is the consistent-sampling predicate
    md5-fraction('mix:'||doc_id) < rate with rate = min(1, fair/n_domain)
    — a pure per-row filter once the per-domain rate (a broadcast-sized
    table: one row per domain) is joined in, so the corpus-side plan is
    scan -> broadcast join -> filter, no shuffle of the big side.  Emits
    the per-domain summary (domain, n_docs, n_kept, target_rate)."""
    from .sketch import TWO48, hash48

    dom = F.col(key).alias("domain")
    counts = documents.select(dom, "doc_id").groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = counts.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_dom")
    )
    plan = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "domain",
            "n_docs",
            F.floor((F.col("total") + F.col("n_dom") - 1) / F.col("n_dom"))
            .cast("long")
            .alias("fair"),
        )
        .select(
            "domain",
            "n_docs",
            F.least(
                F.lit(1.0), F.col("fair").cast("double") / F.col("n_docs").cast("double")
            ).alias("rate"),
        )
    )
    u = hash48(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))).cast(
        "double"
    ) / F.lit(TWO48)
    kept = (
        documents.select(dom, u.alias("u"))
        .join(F.broadcast(plan), "domain")
        .filter(F.col("u") < F.col("rate"))  # UNROUNDED rate on both engines
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        plan.join(kept, "domain", "left")
        .select(
            "domain",
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            r4(F.col("rate")).alias("target_rate"),
        )
    )


def rarity_scores(documents: DataFrame) -> DataFrame:
    """Corpus-frequency rarity proxy: rank the vocabulary by descending
    corpus count (ties to the lexicographically smaller word) and score
    each document by the mean and max rank of its words — the LM-free
    stand-in for perplexity-based quality filtering (rare-word-heavy docs
    score high).

    Two-phase plan: the vocabulary aggregate (map-side combinable) is
    orders of magnitude smaller than the corpus; its global rank is a
    single-partition window over that SMALL table only (documented
    intentional — never over corpus-sized data), then broadcast back
    into a per-doc aggregate keyed on doc_id."""
    words = documents.select("doc_id", F.explode(_words_col()).alias("word"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    ranked = vocab.select(
        "word",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("word").asc()))
        .alias("rank"),
    )
    return (
        words.join(F.broadcast(ranked), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            r4(F.sum("rank").cast("double") / F.count(F.lit(1))).alias("mean_rank"),
            F.max("rank").cast("long").alias("max_rank"),
        )
    )


def _words_col(col: str = "text"):
    return F.split(F.col(col), " ")


PACK_CAPACITY = 256  # tokens per training sequence
PACK_SHARD = 128  # docs per packing shard — bounds window-partition size


def token_pack_bins(
    documents: DataFrame, capacity: int = PACK_CAPACITY, shard: int = PACK_SHARD
) -> DataFrame:
    """Sequence packing: assign documents to fixed-capacity training bins.

    The standard pre-training step that concatenates documents into
    ``capacity``-token sequences (greedy contiguous packing: docs are
    laid end-to-end in doc_id order; a document starting inside bin k
    belongs to bin k and may spill into k+1 — the packer that never
    reorders and never pads mid-stream).  Emits (doc_id, lang, shard_id,
    n_tokens, pack_id, pack_offset).

    Scale: packing is window-cumsum work, and a window partitioned by
    the handful of language values would funnel the whole corpus through
    a few reducers — so packing runs per (lang, shard) where
    shard = doc_id // PACK_SHARD gives bounded, uniform partitions (any
    grouping is a valid packing domain; pack_id is scoped to its shard).
    One shuffle on the compound key, cumsum state is one long."""
    from pyspark.sql.window import Window

    w = _words_col()
    base = documents.select(
        "doc_id",
        "lang",
        F.floor(F.col("doc_id") / shard).cast("long").alias("shard_id"),
        F.size(w).cast("long").alias("n_tokens"),
    )
    win = (
        Window.partitionBy("lang", "shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(win), F.lit(0).cast("long"))
    return base.select(
        "doc_id",
        "lang",
        "shard_id",
        "n_tokens",
        cum_before.alias("cum_before"),
    ).select(
        "doc_id",
        "lang",
        "shard_id",
        "n_tokens",
        F.floor(F.col("cum_before") / capacity).cast("long").alias("pack_id"),
        (F.col("cum_before") % capacity).cast("long").alias("pack_offset"),
    )


def canonical_docs(documents: DataFrame) -> DataFrame:
    """One canonical representative per LSH duplicate cluster: the member
    with the highest quality score, ties to the smallest doc_id.

    Single max-of-struct aggregate per cluster — (quality, -doc_id)
    orders exactly like (quality DESC, doc_id ASC) — so the plan is one
    shuffle keyed by cluster_id with map-side partial combine, never a
    window re-sort of the cluster table."""
    clusters = dedup.dedup_clusters(documents)
    quality = textqc.quality_scores(documents).select("doc_id", "quality")
    joined = clusters.join(quality, "doc_id")
    best = F.max(
        F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("best")
    return (
        joined.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"), best)
        .select(
            "cluster_id",
            (-F.col("best.neg_id")).alias("canonical_doc_id"),
            "n_members",
            F.col("best.quality").alias("best_quality"),
        )
    )


def leakage_safe_splits(documents: DataFrame) -> DataFrame:
    """Train/val/test assignment that can NEVER leak near-duplicates
    across splits: the unit of assignment is the duplicate CLUSTER, not
    the document.  Every doc takes its connected-component label from the
    LSH pair graph (singletons label themselves), and the split is a
    deterministic hash of that label — so two near-identical documents
    land in the same split by construction, the invariant eval-set
    hygiene actually requires (splitting by doc hash silently puts one
    copy in train and its twin in test).

    80/10/10 via hash48(cluster_id) % 10: < 8 train, == 8 val, == 9 test.
    Scale: the cluster labels are O(docs-in-pairs) (tiny), broadcast-
    joined back to the corpus; the split expression is stateless JVM work.
    """
    from .dedup import dedup_clusters
    from .sketch import hash48

    clusters = dedup_clusters(documents)
    labeled = documents.select("doc_id").join(
        F.broadcast(clusters), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    bucket = F.pmod(
        hash48(F.concat(F.lit("split#"), F.col("cluster_id").cast("string"))),
        F.lit(10).cast("long"),
    )
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias(
            "split"
        ),
    )


DSIR_DIMS = 256  # hashed-unigram feature buckets
DSIR_SCALE = 1_000_000  # fixed-point denominator for bucket rates
DSIR_TARGET_LANG = "en"  # plays the role of DSIR's target domain sample


def _dsir_bucket(word):
    """Hashed-unigram bucket in [0, DSIR_DIMS): the same engine-portable
    ascii-slice-of-md5 rule as textqc.hashed_features / ann._plane_coeff_at
    (md5 hex chars are identical across Spark and DuckDB)."""
    h = F.md5(word)
    return (
        F.ascii(F.substring(h, 1, 1)) * 31 + F.ascii(F.substring(h, 2, 1))
    ) % DSIR_DIMS


def dsir_select(documents: DataFrame, target_lang: str = DSIR_TARGET_LANG) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
    public): score every document by how much more its hashed-unigram
    profile resembles the TARGET slice (here ``lang = target_lang``, the
    stand-in for "a sample of the domain we want more of") than the raw
    corpus, and gate on score >= 0.

    Deviation from the paper, deliberate and documented: the paper's
    importance weight is sum(log p_target(b) - log p_raw(b)); logs are
    transcendental and not bit-identical across engines (the same reason
    lm.py sums quantized probabilities), so the weight here is the
    LINEAR fixed-point rate difference

        delta(b)  = floor(SCALE*cnt_t(b)/total_t) - floor(SCALE*cnt_r(b)/total_r)
        score(d)  = sum over d's word occurrences of delta(bucket(word))

    which preserves the "enriched in target vs raw" signal, is BIGINT-
    exact, and lets the DuckDB oracle replay training AND scoring
    bit-for-bit.  score >= 0 keeps docs at least as target-like as the
    corpus average.

    Scale shape: both rate tables collapse to <= DSIR_DIMS rows (map-side
    combinable aggregates; the target side's lang filter pushes to the
    scan), enter the corpus side as ONE broadcast join, and the per-doc
    reduce is a (doc_id, bucket) agg + a doc_id agg — the lm.py shape;
    nothing iterative, nothing driver-resident."""
    from .model import _floor_div

    toks = documents.select(
        "doc_id", "lang", F.explode(_words_col()).alias("word")
    ).select("doc_id", "lang", _dsir_bucket(F.col("word")).alias("bucket"))

    def rates(df, name):
        cnt = df.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
        total = cnt.agg(F.sum("cnt").alias("total"))
        return cnt.crossJoin(F.broadcast(total)).select(
            "bucket", _floor_div(F.col("cnt") * DSIR_SCALE, F.col("total")).alias(name)
        )

    delta = (
        rates(toks, "q_raw")
        .join(rates(toks.filter(F.col("lang") == target_lang), "q_tgt"), "bucket", "left")
        .select(
            "bucket",
            (F.coalesce("q_tgt", F.lit(0)) - F.col("q_raw")).alias("delta"),
        )
    )
    return (
        toks.groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(delta), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("delta")).alias("dsir_score"),
        )
        .select(
            "doc_id",
            "n_words",
            "dsir_score",
            (F.col("dsir_score") >= 0).cast("int").alias("selected"),
        )
    )


def unicode_normalize(documents: DataFrame, form: str = "NFC") -> DataFrame:
    """Unicode normalization gate (UAX #15): fold combining sequences to
    their canonical composed form — the standard first pass of a text
    curation pipeline (web text arrives in mixed NFC/NFD, and duplicate
    detection / tokenization downstream assume ONE canonical form; see
    e.g. the CCNet / Gopher preprocessing descriptions).

    Spark has no codepoint-normalization builtin, so this is one of the
    few legitimately Python-side ops: a single Arrow-batched mapInArrow
    projection (zero shuffle — the normalization is stateless per row;
    at 100 TB the plan is scan -> kernel -> sink).  ``n_folded`` counts
    the codepoints removed by composition (len before - after),
    ``changed`` flags rows the fold actually touched.  The oracle is
    DuckDB's independent ``nfc_normalize`` — a cross-engine check of the
    actual Unicode tables, not a replayed formula."""
    if form != "NFC":  # documented: the oracle pins NFC; NFKC etc. would
        raise ValueError("only NFC is wired to the cross-engine oracle")

    def rows_of(doc_id, text):
        src = text or ""
        norm = unicodedata.normalize("NFC", src)
        return [(doc_id, norm, len(src) - len(norm), src != norm)]

    return map_rows(
        documents.select("doc_id", "text"),
        "doc_id long, norm_text string, n_folded long, changed boolean",
        rows_of,
    )


def temperature_sample(documents: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-scaled mixture sampling — the data-MIXING step of a
    multilingual training pipeline (the multinomial alpha-sampling of
    the XLM-R / mT5 recipes): per-language weights w_i proportional to
    n_i^alpha flatten the head languages, and a half-corpus budget is
    allocated as target_i = floor(budget * w_i), filled by a
    deterministic md5 ranking within each language.

    alpha is fixed at 0.5 for the registered query: sqrt is a correctly
    rounded IEEE operation on BOTH engines, so the weight algebra is
    bit-exact cross-engine (pow(n, alpha) for general alpha is NOT —
    documented limit).  The weight denominator folds in lang-sorted
    order (double addition is non-associative; the oracle mirrors the
    same fold via list_reduce/list_prepend).

    One aggregation + one broadcast join + one window: the per-language
    stats table is tiny, so nothing but the ranking shuffles the corpus
    — and the window partitions by lang, bounded groups.  Emits
    (doc_id, lang, n_lang, target, rk) for the SELECTED docs.
    """
    from pyspark.sql.window import Window

    if alpha != 0.5:
        raise ValueError("only alpha = 0.5 is cross-engine exact (see docstring)")
    stats = documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    denom = stats.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("lang", "n_lang"))),
            F.lit(0.0),
            lambda acc, x: acc + F.sqrt(x["n_lang"].cast("double")),
        ).alias("denom"),
        F.sum("n_lang").alias("total"),
    )
    targets = (
        stats.crossJoin(F.broadcast(denom))
        .select(
            "lang",
            "n_lang",
            F.floor(
                F.floor(F.col("total") / 2).cast("double")
                * (F.sqrt(F.col("n_lang").cast("double")) / F.col("denom"))
            )
            .cast("long")
            .alias("target"),
        )
    )
    ranked = documents.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        )
        .alias("rk"),
    )
    return (
        ranked.join(F.broadcast(targets), "lang")
        .filter(F.col("rk") <= F.col("target"))
        .select("doc_id", "lang", "n_lang", "target", "rk")
    )
