"""``fasta_stats`` — the reference's end-to-end example pipeline.

Mirror of reference src/polars_fastx/fastx_parsers.py:137-223:
scan → length filters → per-field stats expressions → projection →
nested-type stringification → TSV write (path or stdout). In Spark this
compiles to ONE Catalyst DAG: a shuffle-free scan+project stage, so it
parallelizes across the scan's input partitions untouched.
"""

from __future__ import annotations

import warnings
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from polars_fastx_spark.functions import seq as sq
from polars_fastx_spark.functions.exprs import sql_ident
from polars_fastx_spark import session
from polars_fastx_spark.sources.fastx import scan_fastx
from polars_fastx_spark.sources.sinks import write_tsv

#: the selectable fields (reference fastx_parsers.py:168-177)
FIELD_OPTIONS = (
    "header", "sequence", "length", "gc_content", "n_count", "hash",
    "codon_usage", "kmer_freq",
)


def fasta_stats_frame(
    df: DataFrame,
    min_length: int | None = None,
    max_length: int | None = None,
    fields: str = "header,length,gc_content,n_count,hash,codon_usage,kmer_freq",
    kmer_length: int = 3,
) -> DataFrame:
    """The relational core of ``fasta_stats``, as DataFrame → DataFrame.

    Field list semantics match the reference (fastx_parsers.py:179-189):
    unknown fields warn and are dropped; stats compute on the
    length-filtered frame (fastx_parsers.py:161-164). The length filters
    and the projection are each one SQL string rendered from the ``seq``
    templates, so the build is a handful of py4j calls.
    """
    seq = sql_ident("sequence")
    bounds = []
    if min_length:
        bounds.append(f"{sq.length_sql(seq)} >= {int(min_length)}")
    if max_length:
        bounds.append(f"{sq.length_sql(seq)} <= {int(max_length)}")
    if bounds:
        df = df.filter(" AND ".join(bounds))

    selected = [f.strip().lower() for f in fields.split(",")] if fields else ["header"]
    invalid = [f for f in selected if f not in FIELD_OPTIONS]
    if invalid:
        warnings.warn(
            f"Unknown field(s): {', '.join(invalid)}. "
            f"Available fields are: {', '.join(FIELD_OPTIONS)}"
        )
    selected = [f for f in selected if f in FIELD_OPTIONS]

    stats = {
        "length": sq.length_sql,
        "gc_content": sq.gc_content_sql,
        "n_count": sq.n_count_sql,
        "hash": sq.generate_hash_sql,
        "codon_usage": sq.codon_usage_sql,
        "kmer_freq": partial(sq.kmer_frequencies_sql, k=kmer_length),
    }
    return df.selectExpr(*[
        f"{stats[f](seq)} AS {sql_ident(f)}" if f in stats else sql_ident(f)
        for f in selected
    ])


def fasta_stats(
    spark: SparkSession,
    input_file: str,
    output_file: str | None = None,
    min_length: int | None = None,
    max_length: int | None = None,
    fields: str = "header,length,gc_content,n_count,hash,codon_usage,kmer_freq",
    kmer_length: int = 3,
) -> None:
    """scan → stats → TSV (stdout when no output path), reference-parity."""
    df = scan_fastx(spark, input_file)
    out = fasta_stats_frame(df, min_length, max_length, fields, kmer_length)
    write_tsv(out, output_file)


def corpus_clean(
    spark: SparkSession,
    docs_path: str,
    out_path: str,
    min_chars: int = 100,
    max_top_word_ratio: float = 0.2,
    split_weights: dict[str, float] | None = None,
) -> DataFrame:
    """End-to-end training-corpus job: the L-tier operators composed
    into one write. Stages (and their data movement at scale):

    1. scan + PII redaction + length gate — shuffle-free map/filter,
       the length predicate pushed to the parquet scan;
    2. repetition gate (Gopher top-word share) — one (doc, word)
       shuffle, skew bounded by document length;
    3. exact dedup keeping the lowest doc_id per content hash — one
       shuffle on md5(text);
    4. deterministic train/valid/test assignment — pure map;
    5. write partitioned by (split, lang) so downstream training jobs
       partition-prune their split without reading the rest.

    Returns the written frame (re-read from ``out_path``).
    """
    from pyspark.sql import Window, functions as F

    from polars_fastx_spark.operators import sampling
    from polars_fastx_spark.operators.text import redact_pii, word_repetition

    docs = (
        spark.read.parquet(docs_path)
        .filter(F.col("n_chars") >= min_chars)
        .withColumn("text", redact_pii("text"))
    )
    rep = word_repetition(docs, "doc_id", "text").filter(
        F.col("top_word_ratio") <= max_top_word_ratio
    )
    docs = docs.join(rep.select("doc_id"), "doc_id", "left_semi")
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    docs = (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    docs = sampling.assign_splits(
        docs, "doc_id", weights=split_weights, salt="corpus"
    )
    docs.write.mode("overwrite").partitionBy("split", "lang").parquet(
        out_path
    )
    return spark.read.parquet(out_path)


@session.cache_scope()
def crawl_to_corpus(
    spark: SparkSession,
    warc_path: str,
    out_path: str,
    min_chars: int = 80,
    domain_cap_n: int = 1000,
    split_weights: dict[str, float] | None = None,
    extractor: str = "regex",
    charset: str = "auto",
    quality_gates: bool | dict = False,
    robots: DataFrame | None = None,
    robots_agent: str = "mybot",
    containment_threshold: float | None = None,
    containment_max_df: int | float | None = 0.02,
    timings: dict | None = None,
) -> DataFrame:
    """The crawl front door in one call: WARC archives → deduped,
    split, partitioned parquet training corpus. Every stage is an
    operator this package ships individually; this is the composition
    a team actually runs, with the data movement each step costs:

    1.  ``scan_warc`` — byte-range-split archive scan (records parse
        where they live);
    2.  ``resolve_revisits(drop=True)`` — capture-time dedup: bodiless
        revisit records drop, their content is already present once;
    3.  HTTP-200 ``text/html`` filter — shuffle-free;
    3a. undecoded-body QUARANTINE — rows whose ``content_encoding``
        residual is non-null (``br``/``zstd``/corrupt streams the
        parser could not undo; see ``sources/warc.py``) drop HERE,
        before any text tier: "decoding" compressed bytes as
        windows-1252 yields dense garbage that would flow into the
        dedup hashes, lang-ID, and quality gates unmarked. The drop
        count lands in ``timings['quarantine']`` in probe mode;
        environments with brotli/zstd can instead
        ``warc.register_content_decoder('br', ...)`` upstream and
        those rows never quarantine — shuffle-free either way;
    3b. charset-aware payload decode (``functions/charset.py``;
        ``charset="auto"``, the default): HTTP ``charset=`` param →
        BOM → meta-tag sniff → windows-1252 fallback. UTF-8 pages —
        the vast majority — stay a pure codegen cast; only the
        legacy-charset minority crosses one Arrow ``mapInPandas``
        stage, so cost scales with the non-UTF-8 fraction. A blind
        UTF-8 cast here would mojibake every legacy page and poison
        the dedup hashes, lang-ID, and quality scores downstream.
        ``charset="utf-8"`` keeps the legacy blind-cast plan (zero
        Python) for corpora known to be UTF-8;
    3c. ``html_noindex`` polite-crawl gate on the DECODED text —
        shuffle-free;
    4.  visible text + title + canonical URL (declared
        ``rel=canonical`` preferred, syntactic ``normalize_url``
        fallback). ``extractor`` picks the text tier: ``"regex"``
        (default — codegen ``strip_html``, zero Python),
        ``"dom"`` (``functions/html_dom.py`` block parser, full
        visible text, Arrow-batched), or ``"dom_main"`` (DOM tier
        keeping only main-content blocks — chrome and link-farm
        boilerplate drop before any dedup/cap tier sees them);
    4b. OPTIONAL post-hoc robots compliance (``robots=`` a
        (domain, robots_txt) frame): pages whose CURRENT robots.txt
        disallows ``robots_agent`` drop from the corpus — the
        C4-style retroactive compliance pass for archives fetched
        before a site tightened its rules (frontier-time gating is
        ``functions/robots.robots_gate``; this is the corpus-side
        twin). One domain-key join against the tiny rule table;
    5.  exact dedup on canonical URL keeping the EARLIEST capture —
        one shuffle on the url;
    6.  length gate, then ``domain_cap`` — mega-domain-safe politeness
        budget (hot/cold split, only over-cap rows shuffle twice);
    6b. OPTIONAL Gopher/C4 quality rule-pack (``quality_gates=True``,
        or a thresholds dict to recalibrate — ``operators/gopher.py``):
        the published gate set compiled into one row-local projection,
        docs failing any rule drop BEFORE the dedup tiers spend
        shuffle volume on them; zero extra exchanges;
    7.  MinHash-LSH near-dup keep-one (banded candidates, production
        ``perm`` family, connected components, min-id survivor) —
        banded equi-join, never all-pairs;
    8.  OPTIONAL containment dedup (``containment_threshold`` set):
        quotation/excerpt/boilerplate-inclusion cases Jaccard LSH
        structurally misses. Deliberately AFTER the exact and LSH
        tiers — the round-6 cap sweep measured that clone families
        blow the containment join's candidate volume superlinearly
        (Σdf² grew ×9.2 for a ×3 corpus WITH clones present), so the
        cheap tiers must empty the clone mass first; the composition
        rule lives here as code, not only on the
        ``containment_pairs`` docstring. ``containment_max_df``
        (default 2% relative) is the hot-shingle cost cap;
    9.  deterministic content-addressed train/valid/test assignment —
        pure map;
    10. write partitioned by ``split`` (downstream jobs
        partition-prune their split).

    Returns the written frame re-read from ``out_path``. Document ids
    are md5 of the canonical url — content-addressed, stable across
    reruns and cluster sizes.

    ``timings``: pass a dict to get per-tier phase accounting — each
    tier is persisted, counted, and timed into
    ``timings[tier] = {"seconds", "rows"}`` (probe/observability
    mode; adds materialization barriers, so leave ``None`` in
    production where Catalyst should fuse the whole plan).

    Every cache the call makes (tier barriers, the rows checkpoint, the
    band table, the components' labels) is freed before it returns.
    """
    from pyspark.sql import Window, functions as F

    from polars_fastx_spark.functions import html as H
    from polars_fastx_spark.functions import urls
    from polars_fastx_spark.operators import dedup, sampling
    from polars_fastx_spark.sources.warc import resolve_revisits, scan_warc

    import time as _time

    _prev: list = [None]

    def _stage(name: str, df: DataFrame, t0: float | None = None) -> DataFrame:
        """Probe-mode tier barrier: persist + count + time. A no-op
        passthrough when timings is None (the production plan stays
        one fused Catalyst DAG). ``t0`` backdates the start for tiers
        whose operator runs EAGER driver-side iterations before the
        frame exists (connected components) — without it that work
        lands in no tier and the table under-reports the wall."""
        if timings is None:
            return df
        if t0 is None:
            t0 = _time.time()
        df = session.persist(df)
        n = df.count()
        timings[name] = {
            "seconds": round(_time.time() - t0, 2), "rows": n,
        }
        session.release(_prev[0])
        _prev[0] = df
        return df

    from polars_fastx_spark.functions.charset import decode_payloads

    pages = _stage(
        "scan", resolve_revisits(scan_warc(spark, warc_path), drop=True)
    )
    kept = pages.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    )
    # quarantine BEFORE the text tier (docstring step 3a): a body the
    # parser could not fully decode must never be charset-"decoded"
    # into garbage text
    from polars_fastx_spark.functions.charset import undecoded_flag

    kept = _stage("quarantine", kept.filter(~undecoded_flag()))
    # charset-aware decode BEFORE any gate/extractor reads the text
    # (docstring step 3b); mode="utf-8" reproduces the legacy blind
    # cast as one codegen expression
    kept = decode_payloads(
        kept, "payload", "http_content_type", out="__html", mode=charset
    )
    html = F.col("__html")
    rows = _stage("gates", kept.filter(~H.html_noindex(html)))
    if extractor == "regex":
        title_col, text_col = (
            H.html_title(html), H.strip_html(html),
        )
        rows = rows.select(
            F.coalesce(
                F.nullif(H.html_canonical(html), F.lit("")),
                urls.normalize_url("target_uri"),
            ).alias("url"),
            F.col("warc_date"),
            title_col.alias("title"),
            text_col.alias("text"),
        )
    elif extractor in ("dom", "dom_main"):
        from polars_fastx_spark.functions.html_dom import dom_extract

        rows = rows.withColumn("__dom", dom_extract(html)).select(
            F.coalesce(
                F.nullif(H.html_canonical(html), F.lit("")),
                urls.normalize_url("target_uri"),
            ).alias("url"),
            F.col("warc_date"),
            F.col("__dom.title").alias("title"),
            F.col(
                "__dom.main_text" if extractor == "dom_main"
                else "__dom.text"
            ).alias("text"),
        )
    else:
        raise ValueError(
            f"extractor={extractor!r}: expected 'regex', 'dom', or "
            "'dom_main'"
        )
    rows = _stage("extract", rows)
    # lineage cut at the extracted-rows seam: downstream, the LSH
    # candidate generation and (optional) containment tier SELF-JOIN
    # this frame, the charset tier above is a two-branch union, and a
    # robots gate adds another self-referencing join — each multiplies
    # the analyzed tree, and the composed plan grows past what the
    # driver can even render (measured: OOM in plan stringification
    # with charset=auto + robots). The checkpoint collapses the tree
    # to one leaf AND means the scan+decode+extract work runs ONCE
    # instead of once per self-join branch — a throughput win at any
    # scale, at the cost of materializing the extracted columns
    # (url/date/title/text — the small projection of the archive).
    # eager=False: nothing runs until the first downstream action.
    rows = session.local_checkpoint(rows, eager=False)
    if robots is not None:
        from polars_fastx_spark.functions.robots import robots_gate

        rows = _stage(
            "robots_gate",
            robots_gate(rows, robots, url_col="url", agent=robots_agent),
        )
    w = Window.partitionBy("url").orderBy(
        F.col("warc_date").asc(), F.col("text").asc()
    )
    rows = _stage(
        "url_dedup",
        rows.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
        .filter(F.length("text") >= min_chars),
    )
    rows = _stage(
        "domain_cap", urls.domain_cap(rows, "url", cap=domain_cap_n)
    )
    if quality_gates:
        from polars_fastx_spark.operators.gopher import gopher_gates

        th = quality_gates if isinstance(quality_gates, dict) else None
        rows = _stage(
            "quality_gates",
            gopher_gates(rows, "text", thresholds=th)
            .filter(F.col("passes_quality"))
            .drop("passes_quality", "fail_reasons"),
        )
    rows = rows.withColumn("doc_id", F.md5("url"))
    t_lsh = _time.time()
    pairs = dedup.minhash_lsh_candidates(
        rows, "doc_id", "text", family="perm"
    )
    from polars_fastx_spark.operators.graph import connected_components

    # connected_components iterates EAGERLY (per-round collects), so
    # the lsh tier's clock starts before it, not at the anti-join
    dropped = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    rows = _stage(
        "lsh_neardup", rows.join(dropped, "doc_id", "left_anti"),
        t0=t_lsh,
    )
    if containment_threshold is not None:
        t_cont = _time.time()
        cpairs = dedup.containment_pairs(
            rows, "doc_id", "text",
            threshold=containment_threshold,
            max_shingle_df=containment_max_df,
        )
        cdrop = dedup.containment_drop_decision(
            cpairs, threshold=containment_threshold
        ).select("doc_id")
        rows = _stage(
            "containment", rows.join(cdrop, "doc_id", "left_anti"),
            t0=t_cont,
        )
    rows = _stage(
        "splits",
        sampling.assign_splits(
            rows, "doc_id",
            split_weights or {"train": 0.98, "valid": 0.01,
                              "test": 0.01},
        ),
    )
    t_w = _time.time()
    rows.write.mode("overwrite").partitionBy("split").parquet(out_path)
    if timings is not None:
        timings["write"] = {
            "seconds": round(_time.time() - t_w, 2), "rows": None,
        }
    return spark.read.parquet(out_path)
