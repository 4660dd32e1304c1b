"""Corpus preparation: the end-to-end training-data pipeline composition.

Chains the engine's data-quality operators into the standard pre-training
corpus flow — the reference runs the analogous extract→clean→filter chain
single-process (modules/lm_post_training/train.py:49-70); here it is one
declarative plan over the pages table:

    pages ──▶ extract (byte-identical cleaning, if html)      [Arrow UDF]
          ──▶ quality gate (length / alnum ratio / token min) [codegen]
          ──▶ optional language filter                        [codegen]
          ──▶ exact dedup (md5 min-keeper)                    [1 shuffle]
          ──▶ optional near-dup removal via MinHash-LSH       [1 shuffle]

Returns the surviving documents plus a one-row audit frame (counts per
stage) — a 100 TB pipeline needs the audit as much as the output.

One-pass shape: every stage is a FLAG column computed in a single plan
(quality/lang are per-row expressions; the exact-dedup keeper is a
min-over-fingerprint window), so the audit is ONE aggregate over one
input scan and the clean output is a filter over the same plan — the
input is scanned at most twice total (audit + consumption), not once
per stage counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import extract_html_udf
from ..functions.text_stats import pred_lang_expr, quality_flag_expr

#: persisted intermediates of prepare_corpus runs, released by
#: :func:`release_prepare_cache`
_PREPARE_CACHES: list = []


def release_prepare_cache() -> None:
    """Unpersist intermediates cached by :func:`prepare_corpus` (the LSH
    band-bucket frame). Call once the clean/audit actions have run."""
    while _PREPARE_CACHES:
        try:
            _PREPARE_CACHES.pop().unpersist()
        except Exception:
            pass


def prepare_corpus(
    docs: DataFrame,
    html_col: str | None = None,
    lang: str | None = None,
    near_dup: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    gopher: bool = False,
    redact: bool = False,
    bench: DataFrame | None = None,
    decontaminate_k: int = 8,
    near_dup_transitive: bool = False,
    lsh_max_bucket: int | None = 256,
    cc_algorithm: str = "star",
) -> tuple[DataFrame, DataFrame]:
    """Returns (clean_docs, audit). ``clean_docs`` has (doc_id, text);
    ``audit`` is a lazy one-row DataFrame of per-stage survivor counts.

    ``near_dup=True`` drops the higher-doc_id side of every MinHash-LSH
    candidate pair (transitively safe for dedup: keeps at least one doc
    of every near-dup cluster, the minimum-id representative of its
    pairwise links).

    Optional stages (each off by default, keeping the base contract):
    ``gopher=True`` adds the Gopher repetition/format gates to the
    per-row quality flag (still the same one-pass audit aggregate);
    ``redact=True`` rewrites PII spans to placeholders BEFORE any other
    stage (so dedup fingerprints see the redacted text, matching what
    ships); ``bench`` drops docs sharing any ``decontaminate_k``-token
    shingle with the given benchmark table (broadcast semi-join,
    audited as ``after_decontamination``).

    ``lsh_max_bucket`` (production default 256, vs
    :func:`~..operators.dedup.lsh_candidate_pairs`'s reference-exact
    ``None``): with ``near_dup=True``, LSH buckets holding more than
    this many docs are dropped before the pair join — one degenerate
    boilerplate signature otherwise emits B·(B−1)/2 pairs and goes
    quadratic at corpus scale. Never silent: the audit row gains
    ``lsh_dropped_buckets`` / ``lsh_dropped_bucket_rows`` (zeros when
    nothing was capped; the count costs one extra signature pass, paid
    only at the single audit collect). ``None`` disables the cap.
    """
    from ..functions.text_stats import redact_pii

    if html_col is not None:
        docs = docs.withColumn(text_col, extract_html_udf(F.col(html_col)))
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    if redact:
        base = redact_pii(base)

    passed = quality_flag_expr()
    gop = None
    if gopher:
        from ..functions.text_stats import gopher_flag_expr

        # a per-row Column expression — rides the same one-pass plan, no
        # join, unlike composing the gopher_quality DataFrame would
        gop = passed & gopher_flag_expr()
        passed = gop
    if lang is not None:
        passed = passed & (pred_lang_expr() == lang)
    flags = base.withColumn("_q", quality_flag_expr()).withColumn("_p", passed)
    if gop is not None:
        flags = flags.withColumn("_g", gop)
    # exact-dedup keeper among rows passing the earlier gates: the min
    # doc_id per text fingerprint (conditional min inside the window, so
    # no per-stage re-filter is needed)
    wfp = Window.partitionBy(F.md5("text"))
    keeper = F.min(F.when(F.col("_p"), F.col("doc_id"))).over(wfp)
    flags = flags.withColumn("_d", F.col("_p") & (F.col("doc_id") == keeper))

    agg_cols = [
        F.count(F.lit(1)).alias("input"),
        F.sum(F.col("_q").cast("long")).alias("after_quality"),
    ]
    if gop is not None:
        agg_cols.append(F.sum(F.col("_g").cast("long")).alias("after_gopher"))
    if lang is not None:
        agg_cols.append(F.sum(F.col("_p").cast("long")).alias("after_lang"))
    agg_cols.append(F.sum(F.col("_d").cast("long")).alias("after_exact_dedup"))
    audit = flags.agg(*agg_cols)

    clean = flags.filter(F.col("_d")).select("doc_id", "text")
    if near_dup:
        from pyspark import StorageLevel

        from ..operators.dedup import (
            lsh_band_buckets,
            lsh_dropped_stats_from_buckets,
            lsh_pairs_from_buckets,
        )

        # ONE shingle+MinHash pass: the candidate pairs AND the
        # dropped-bucket audit both derive from the same persisted
        # (doc_id, band, bkey) frame — the r5 shape recomputed
        # signatures over the whole corpus a second time for the audit
        # (r5 ADVICE), roughly doubling the most expensive prepare
        # stage. The frame is n_docs x bands small rows; persistence is
        # MEMORY_AND_DISK so a 100 TB corpus spills instead of OOMing.
        # Registered for release: release_prepare_cache() (called by
        # materialize_prepared_corpus once its actions land) unpersists
        # it, so repeated prepares in one application don't accumulate.
        bb = lsh_band_buckets(clean).persist(StorageLevel.MEMORY_AND_DISK)
        _PREPARE_CACHES.append(bb)
        pairs = lsh_pairs_from_buckets(bb, lsh_max_bucket)
        if lsh_max_bucket is not None:
            audit = audit.crossJoin(
                lsh_dropped_stats_from_buckets(bb, lsh_max_bucket)
            )
        if near_dup_transitive:
            # cluster-safe: keep exactly the min doc_id of each
            # connected component (docs linked only THROUGH a middleman
            # dedupe too, which the pairwise rule below misses)
            from ..operators.dedup import connected_components

            # cc_algorithm selects HOW, never WHAT (identical labels,
            # pinned by pytest) — so it is not a fingerprinted corpus
            # flag. 'star' needs sc.setCheckpointDir on a real cluster;
            # 'jump' is the no-shared-storage fallback, reachable from
            # the job CLI (--cc-algorithm), not just code.
            cc = connected_components(pairs, algorithm=cc_algorithm)
            drop = cc.filter(F.col("doc_id") != F.col("component")).select(
                "doc_id"
            )
        else:
            drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        clean = clean.join(drop, "doc_id", "left_anti")
        audit = audit.crossJoin(
            clean.agg(F.count(F.lit(1)).alias("after_near_dedup"))
        )
    if bench is not None:
        from ..operators.dedup import shingle_expr, shingles

        # shingle the benchmark THROUGH the same redaction the corpus
        # got — otherwise a quote overlapping a PII span never matches
        bench_side = redact_pii(bench) if redact else bench
        bench_sh = bench_side.select(
            F.explode(shingle_expr(decontaminate_k)).alias("shingle")
        ).distinct()
        # hit ids only + left_anti (the near-dup shape above): the clean
        # subtree appears twice in the plan, not three times as routing
        # through benchmark_overlap's every-doc left join would
        hits = (
            shingles(clean, decontaminate_k)
            .join(F.broadcast(bench_sh), "shingle")
            .select("doc_id")
            .distinct()
        )
        clean = clean.join(hits, "doc_id", "left_anti")
        audit = audit.crossJoin(
            clean.agg(F.count(F.lit(1)).alias("after_decontamination"))
        )
    return clean, audit


def materialize_prepared_corpus(
    spark,
    clean: DataFrame,
    audit: DataFrame,
    output: str,
    prepare_opts: dict,
    stale_paths: tuple = (),
):
    """Write ``<output>/clean_corpus`` + ``prepare_audit.json`` ONCE and
    return ``(clean_from_disk, audit_row)``. A resumed run reuses the
    cached corpus only when the recorded ``prepare_opts`` (every prepare
    flag; callers also include :func:`raw_input_fingerprint` of the
    input so in-place data mutation at the same path is detected)
    match; whenever the corpus is REBUILT — for any reason: fresh run,
    crashed write, changed inputs/flags, or a missing/old-format audit
    file — every path in ``stale_paths`` (derived artifacts: index
    state, chunk exports…) is cleared first. Clearing must not be
    conditional on a *detected* opts mismatch: a crash between the
    audit unlink and the clear, or a hand-deleted audit, would
    otherwise leave exports from the PREVIOUS corpus passing their own
    ``_EXPORT_OPTS`` check against a corpus rebuilt under new flags."""
    import json as _json

    from ..functions import fsio

    clean_dir = f"{output}/clean_corpus"
    audit_path = fsio.join(output, "prepare_audit.json")
    cached_opts = None
    if fsio.exists(audit_path, spark):
        cached_opts = _json.loads(fsio.read_text(audit_path, spark)).get("_prepare_opts")
    reusable = (
        fsio.exists(fsio.join(clean_dir, "_SUCCESS"), spark)
        and cached_opts == prepare_opts
    )
    if not reusable:  # fresh run, crashed write, or changed inputs/flags
        # INVALIDATE FIRST, publish last: the corpus write and the audit
        # collect are two separate Spark jobs — a crash between them
        # must not leave the NEW corpus guarded by the OLD fingerprint
        # (a later run with the old flags would see a matching audit +
        # _SUCCESS and silently serve the wrong corpus)
        fsio.delete(audit_path, spark)
        clear_derived(output, stale_paths, spark)
        clean.write.mode("overwrite").parquet(clean_dir)
        audit_row = audit.collect()[0].asDict() | {"_prepare_opts": prepare_opts}
        fsio.write_text(audit_path, _json.dumps(audit_row), spark)
        release_prepare_cache()  # both consumers of the LSH frame have run
    else:
        audit_row = _json.loads(fsio.read_text(audit_path, spark))
    return spark.read.parquet(clean_dir), audit_row


def raw_input_fingerprint(path: str, spark=None) -> str:
    """Content identity of a filesystem input for ``prepare_opts``:
    md5 over the sorted (path, size, mtime) of every file — the same
    signal :func:`~..plans.checkpoint.input_fingerprint` uses, but
    computable without a Spark job. Detects data mutated IN PLACE at
    the same path (e.g. a re-crawled parquet dir), which a
    path-string-only record cannot.

    Non-local paths (``s3://``, ``hdfs://``…) are listed through the
    Hadoop FileSystem of ``spark`` when provided — the production
    deployments this guard targets — so a re-crawl over the same
    remote dir is detected too. Only refs no filesystem can list
    (catalog tables) fall back to the constant ``ref:<name>``; pin a
    snapshot via ``--input-option`` to guard those."""
    import hashlib as _hashlib
    from pathlib import Path as _Path

    p = _Path(path)
    if p.exists():
        files = (
            sorted(x for x in p.rglob("*") if x.is_file())
            if p.is_dir()
            else [p]
        )
        h = _hashlib.md5()
        for f_ in files:
            st = f_.stat()
            rel = f_.relative_to(p) if p.is_dir() else f_.name
            h.update(f"{rel}|{st.st_size}|{st.st_mtime_ns}\n".encode())
        return h.hexdigest()
    # Classify by REF SHAPE (the same heuristic read_corpus resolves
    # with — sources.tables.is_table_ref), not by sniffing exception
    # prose: a Py4J error's stack trace contains arbitrary substrings,
    # so matching on it misfires both ways (r5 review). Catalog refs
    # never touch the JVM; filesystem refs DO, and listing failures
    # RAISE — a silently-recorded constant would make the NEXT healthy
    # run see a fingerprint mismatch and rebuild the corpus + clear
    # every derived artifact for no reason.
    from ..sources.tables import is_table_ref

    if spark is not None and not is_table_ref(path):
        try:
            jvm = spark._jvm
            jsc = spark._jsc
        except AttributeError:
            # Spark Connect exposes no JVM gateway: content listing is
            # impossible there — degrade to the path-only record, the
            # pre-JVM-listing behavior.
            return f"ref:{path}"
        hconf = jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(hconf)
        if fs.exists(hpath):
            entries = []
            it = fs.listFiles(hpath, True)  # recursive
            while it.hasNext():
                st = it.next()
                entries.append(
                    f"{st.getPath().toString()}|{st.getLen()}|"
                    f"{st.getModificationTime()}"
                )
            h = _hashlib.md5()
            for line in sorted(entries):  # listing order is not stable
                h.update((line + "\n").encode())
            return h.hexdigest()
        # nonexistent filesystem path: record the constant — the
        # corpus read itself will fail loudly right after
    return f"ref:{path}"


def clear_derived(output: str, paths, spark=None) -> None:
    """Remove derived artifacts (dirs or files) under ``output`` — the
    ONE clear routine shared by the corpus fingerprint and any
    artifact-specific guards (e.g. the index --buckets guard), so the
    two can't drift on which paths count as derived."""
    from ..functions import fsio

    for stale in paths:
        fsio.delete(fsio.join(output, stale), spark)


#: everything the index build derives from the clean corpus — used by
#: BOTH the corpus fingerprint's stale_paths and the --buckets guard
INDEX_ARTIFACTS = ("postings", "doclens", "_manifest.jsonl", "stats.json")


def assign_doc_ids(
    docs: DataFrame,
    from_col: str = "url",
    id_col: str = "doc_id",
    check: bool = True,
    keep_latest_by: str | None = None,
) -> DataFrame:
    """Derive the engine's numeric ``doc_id`` from a string key (the
    north-rule input is a URL-keyed pages table): ``xxhash64(from_col)``
    — deterministic, partition-independent, and stable across
    incremental loads (a row_number assignment would renumber on every
    re-read).

    ``keep_latest_by`` (e.g. ``"warc_ts"``): a crawl table carries the
    same URL at several timestamps — keep only the newest row per key
    BEFORE hashing (ties broken by ``md5(text)`` for determinism when a
    text column exists, else arbitrary-but-single). Without it,
    duplicate keys are a hard ERROR under ``check`` (two rows sharing a
    doc_id would double-count in doclens/postings and silently corrupt
    scoring — the audit compares distinct keys to the ROW count, so
    recrawls can't hide behind the distinct-vs-distinct arithmetic).

    ``check=True`` runs ONE aggregate that raises on (a) NULL keys —
    ``xxhash64(NULL)`` is a constant, so null-key docs would all merge
    (and one null row could exactly cancel one true collision in
    distinct-count arithmetic), (b) duplicate keys (unless deduped
    above), and (c) 64-bit hash collisions (plausible by the birthday
    bound at 10^12 docs — DETECT and let the caller switch to a
    precomputed id rather than hope). One extra column-pruned scan;
    disable only when ids were already validated upstream.
    """
    if keep_latest_by is not None:
        from pyspark.sql import Window as _W

        tie = (
            F.md5(F.col("text")) if "text" in docs.columns else F.lit("")
        )
        w = _W.partitionBy(from_col).orderBy(
            F.col(keep_latest_by).desc(), tie
        )
        docs = (
            docs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    out = docs.withColumn(id_col, F.xxhash64(F.col(from_col)))
    if check:
        r = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct(from_col).alias("src"),
            F.countDistinct(id_col).alias("ids"),
            F.sum(F.col(from_col).isNull().cast("long")).alias("nulls"),
        ).collect()[0]
        if int(r["nulls"] or 0) > 0:
            raise ValueError(
                f"{r['nulls']} rows have NULL {from_col}: null keys all "
                "hash to one constant id — filter or fill them upstream"
            )
        if int(r["rows"]) != int(r["src"]):
            raise ValueError(
                f"{int(r['rows']) - int(r['src'])} duplicate {from_col} "
                "keys (recrawled pages?): rows sharing a doc_id would "
                "double-count in the index — pass keep_latest_by=... "
                "or dedupe upstream"
            )
        if int(r["src"]) != int(r["ids"]):
            raise ValueError(
                f"xxhash64({from_col}) collided: {r['src']} distinct keys "
                f"-> {r['ids']} distinct ids; supply a precomputed id "
                "column instead"
            )
    return out
