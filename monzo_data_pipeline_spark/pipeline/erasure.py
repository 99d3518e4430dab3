"""Right-to-be-forgotten (GDPR Art. 17) erasure across warehouse layers.

The reference keeps personal finance data in three medallion layers of
one SQLite file — a DELETE there is a one-liner. On an immutable
parquet lake, erasure is a rewrite: anti-join every table that carries
the subject key and commit the rewritten files in place of the old.
For an LLM-training corpus this is the same operator that removes
opted-out or licensed-out documents before a training run.

Scale posture (`erase_keys`, over an `atomic.AtomicWarehouse`):
  * The erase set crosses the driver once and is broadcast (it is
    tiny relative to the lake); the anti-join is map-side against each
    table scan.
  * Pruning runs in two steps, neither reading data. Data dirs whose
    manifest min/max or Bloom filter proves every key absent are left
    as they are (the Delta/Iceberg file-skipping pattern); inside the
    remaining dirs, part files whose row-group footer stats exclude
    every key are hardlinked into the rewritten dir byte-identical.
    With a sorted, range or Z-order layout (`sources/io.py`) an
    erasure touches O(keys) files, not the lake — also after
    `atomic.compact_table` has left a table as one dir.
  * Every table flips in ONE commit: an auditor reading at any instant
    sees the subject everywhere or nowhere, and a crash mid-erasure
    leaves the old snapshot whole. Old dirs remain until vacuum() —
    complete erasure = this commit + vacuum, both idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .atomic import ROWS_KEY, AtomicWarehouse, _dir_may_contain, _dir_rows, _part_files


def _files_that_may_contain(path: str, key: str, keys: list) -> tuple[list[str], list[str]]:
    """Split a data dir into (candidate, clean) part files by
    row-group min/max footer stats on `key`: a file is clean only if
    EVERY row group's [min, max] provably excludes EVERY erase key.
    Missing stats → candidate (never assume exclusion)."""
    import bisect

    import pyarrow.parquet as pq

    # Nulls can't match any stats range (and the anti-join drops them
    # anyway); mixed/incomparable key types would make sorted() itself
    # raise, so both degrade to the documented never-assume-exclusion
    # posture instead of crashing.
    keys = [k for k in keys if k is not None]
    try:
        skeys = sorted(keys)
    except TypeError:
        skeys = None  # incomparable key mix → every file is a candidate
    candidates, clean = [], []
    for name in _part_files(path):
        fpath = os.path.join(path, name)
        if os.sep in name:
            raise ValueError(
                f"erase_keys rewrites flat data dirs; {path!r} is partitioned"
            )
        md = pq.ParquetFile(fpath).metadata
        may = False
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            col = next(
                (
                    row_group.column(j)
                    for j in range(row_group.num_columns)
                    if row_group.column(j).path_in_schema == key
                ),
                None,
            )
            st = col.statistics if col is not None else None
            if st is None or not st.has_min_max or skeys is None:
                may = True
                break
            # any erase key inside [min, max]? (keys sorted → bisect);
            # a key type incomparable with the column's stats degrades
            # to candidate, per the never-assume-exclusion contract
            try:
                i = bisect.bisect_left(skeys, st.min)
                if i < len(skeys) and skeys[i] <= st.max:
                    may = True
                    break
            except TypeError:
                may = True
                break
        (candidates if may else clean).append(fpath)
    return candidates, clean


def erase_keys(
    wh: AtomicWarehouse,
    ids: DataFrame,
    key: str,
    tables: list[str],
    preserve_layout: bool = False,
) -> dict[str, dict]:
    """Remove every row whose `key` is in `ids` from each listed table,
    all tables in one commit. Tables absent from the warehouse are
    skipped; re-running with the same ids removes nothing.

    A table's data dirs that may hold a key (manifest min/max and
    Bloom filter) and have part files that may hold one (footer stats)
    collapse into ONE new dir: the clean part files hardlinked in,
    the candidate files rewritten through the anti-join. Other dirs
    stay listed, byte-identical.

    ``preserve_layout=True`` rewrites each candidate file
    INDIVIDUALLY (one file in → one filtered file out) instead of
    coalescing all candidates into one write: every surviving file's
    value range is a subset of the file it replaced, so a clustered
    layout (Z-order, range-sort) KEEPS its min/max skipping power —
    the default bulk rewrite merges the candidates and destroys their
    clustering, which on a 100 TB OPTIMIZE'd table is a latent
    full-scan regression no correctness check sees (audited by
    `zorder_layout_stats` per actual file in
    tests/test_erasure_layout.py). The per-file loop is bounded by
    the stat pruning itself: each candidate is one tiny write job.

    Returns per table ``{"rows_removed", "dirs_total",
    "dirs_rewritten", "files_total", "files_rewritten"}``;
    ``rows_removed`` is -1 (and the rest 0) for a table lacking the key
    column. Counts come from parquet footers, so no count job runs."""
    spark = wh.spark
    # the erase set is tiny by contract: one collect, deduplicated here
    # (a distinct() would add a shuffle job); NULL matches nothing
    probe = list({r[0] for r in ids.select(key).collect()} - {None})
    erase_set = F.broadcast(
        local_frame(spark, [(k,) for k in probe], ids.select(key).schema)
    )
    report: dict[str, dict] = {}
    with wh.transaction() as txn:
        for table in tables:
            if not txn.exists(table):
                continue
            if key not in txn.read(table).columns:
                report[table] = {
                    "rows_removed": -1,
                    "dirs_total": 0,
                    "dirs_rewritten": 0,
                    "files_total": 0,
                    "files_rewritten": 0,
                }
                continue
            dirs = txn.tables[table]
            hit_dirs, cand, carry = [], [], []
            n_files = 0
            for rel in dirs:
                path = wh._abs(rel)
                if not probe or not _dir_may_contain(txn.stats.get(rel), key, probe):
                    n_files += len(_part_files(path))
                    continue
                c, clean = _files_that_may_contain(path, key, probe)
                n_files += len(c) + len(clean)
                if c:
                    hit_dirs.append(rel)
                    cand += c
                    carry += clean
            removed = 0
            if cand:
                if preserve_layout:
                    df = [
                        spark.read.parquet(f).join(erase_set, key, "left_anti").coalesce(1)
                        for f in cand
                    ]
                else:
                    df = spark.read.parquet(*cand).join(erase_set, key, "left_anti")
                before = sum(_dir_rows(wh._abs(d), txn.stats.get(d)) for d in hit_dirs)
                new_rel = txn.replace_dirs(table, drop=hit_dirs, df=df, carry=carry)
                removed = before - txn.stats[new_rel][ROWS_KEY]
            report[table] = {
                "rows_removed": removed,
                "dirs_total": len(dirs),
                "dirs_rewritten": len(hit_dirs),
                "files_total": n_files,
                "files_rewritten": len(cand),
            }
    return report


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Re-identification risk audit (the k-anonymity criterion,
    Sweeney 2002): every equivalence class of the quasi-identifier
    columns with fewer than `k` members — the rows an adversary can
    single out by joining on public attributes. The export gate that
    runs BEFORE `pseudonymize_columns` ships data: pseudonymization
    hides direct identifiers, this catches indirect ones.

    One map-side-combined groupBy on the quasi columns; the output is
    bounded by the number of RISKY classes, not rows. 100 TB: the agg
    shuffles |distinct quasi| rows, nothing else."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .filter(F.col("class_size") < k)
    )


def l_diversity_audit(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l_min: int = 2
) -> DataFrame:
    """Attribute-disclosure audit (l-diversity, Machanavajjhala 2007):
    quasi-identifier classes whose SENSITIVE column takes fewer than
    `l_min` distinct values — even a k-anonymous class leaks when
    everyone in it shares the sensitive value. Same single-agg physics
    as `k_anonymity_audit` (exact distinct per class: one shuffle on
    (quasi, sensitive) then one on quasi)."""
    per_value = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        per_value.groupBy(*quasi_cols)
        .agg(
            F.sum("n").alias("class_size"),
            F.count(F.lit(1)).cast("long").alias("n_sensitive_values"),
        )
        .filter(F.col("n_sensitive_values") < l_min)
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_ppm: int | None = None,
) -> DataFrame:
    """Distribution-disclosure audit (t-closeness, Li et al. 2007):
    the distance between each quasi-identifier class's SENSITIVE
    distribution and the GLOBAL one — even an l-diverse class leaks
    when its distribution is skewed (all-but-one member low-income).
    For an ordered sensitive attribute the distance is the Earth
    Mover's Distance with the ordered ground metric:

        EMD = (1/(m−1)) · Σ_i |Σ_{j≤i} (p_j − q_j)|

    computed EXACTLY in integers: with class cumulative counts c_i
    (of N_c rows) and global cumulative counts g_i (of N rows),
    emd_ppm = 10⁶·Σ_i |c_i·N − g_i·N_c| DIV ((m−1)·N_c·N), all in
    DECIMAL(38,0) — no floats, so the audit hash-checks cross-engine.

    `sensitive_col` must be integer-ordered (bucket continuous values
    first). Returns every class with (quasi…, class_size, emd_ppm),
    filtered to emd_ppm > t_ppm when `t_ppm` is given.

    Scale shape: one groupBy on (quasi, sensitive) is the only
    fact-scale operation; everything after runs on the bounded
    C·m class×domain grid (cumulative sums via bounded m² triangular
    self-joins — no unpartitioned window, the ntile_quartiles
    contract)."""
    from ..ext.lineage import truncate_lineage

    v = F.col(sensitive_col).cast("long").alias("__v")
    cls = df.filter(F.col(sensitive_col).isNotNull()).groupBy(
        *quasi_cols, v
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    # lazy checkpoint, not persist(): the C·m grid is re-read four
    # times below, and a checkpoint leaves no cached blocks pinned
    # for the rest of the session after the audit materializes (r10)
    cls = truncate_lineage(cls, eager=False)
    # global per-value counts + domain (bounded m rows)
    gl = cls.groupBy("__v").agg(F.sum("__n").alias("__gn"))
    # global cumulative via the bounded triangular self-join
    gl2 = gl.select(
        F.col("__v").alias("__v2"), F.col("__gn").alias("__gn2")
    )
    gcum = (
        gl.join(F.broadcast(gl2), F.col("__v2") <= F.col("__v"))
        .groupBy("__v")
        .agg(F.sum("__gn2").alias("__g"))
    )
    n_total = gl.agg(
        F.sum("__gn").alias("__N"), F.count(F.lit(1)).alias("__m")
    )
    # class totals
    totals = cls.groupBy(*quasi_cols).agg(
        F.sum("__n").alias("class_size")
    )
    # class cumulative at EVERY domain value: triangular join
    # class-counts ⋈ domain, then re-anchored on the FULL class ×
    # domain grid — a class with no mass at or below a domain value
    # has cumulative 0 there, and that cell still contributes
    # |0·N − g_i·N_c| to the EMD (dropping it undercounts one-sided
    # classes; caught by the hand-computed two-class unit test)
    ccum = (
        cls.join(
            F.broadcast(gl.select(F.col("__v").alias("__dv"))),
            F.col("__v") <= F.col("__dv"),
        )
        .groupBy(*quasi_cols, "__dv")
        .agg(F.sum("__n").alias("__c"))
    )
    grid = totals.crossJoin(
        F.broadcast(gl.select(F.col("__v").alias("__dv")))
    )
    ccum_full = grid.join(
        ccum, [*quasi_cols, "__dv"], "left"
    ).fillna({"__c": 0})
    dec = "decimal(38,0)"
    diff = (
        ccum_full.join(
            F.broadcast(gcum.select(F.col("__v").alias("__dv"), "__g")),
            "__dv",
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            *quasi_cols,
            "class_size",
            "__N",
            "__m",
            F.abs(
                F.col("__c").cast(dec) * F.col("__N")
                - F.col("__g").cast(dec) * F.col("class_size")
            ).alias("__d"),
        )
    )
    out = (
        diff.groupBy(*quasi_cols, "class_size", "__N", "__m")
        .agg(F.sum("__d").alias("__sd"))
        .select(
            *quasi_cols,
            "class_size",
            F.expr(
                # m == 1: one sensitive value everywhere — every
                # class trivially matches the global distribution
                "CASE WHEN __m <= 1 THEN CAST(0 AS BIGINT) ELSE "
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * __sd"
                " DIV ((__m - 1) * CAST(class_size AS DECIMAL(38,0))"
                " * __N) AS BIGINT) END"
            ).alias("emd_ppm"),
        )
    )
    if t_ppm is not None:
        out = out.filter(F.col("emd_ppm") > t_ppm)
    return out


def pseudonymize_columns(df: DataFrame, cols: list[str], salt: str) -> DataFrame:
    """GDPR pseudonymization (Art. 4(5)): replace identifier columns
    with salted deterministic tokens — consistent across tables (joins
    still work), irreversible without the salt, NULLs preserved.

    Token = 'anon_<h131>_<h137>': TWO independent polynomial folds of
    salt|value (bases 131 and 137, each mod 2³¹−1) — engine-agnostic,
    so pseudonymized outputs are oracle-checkable cross-engine unlike
    xxhash64/sha tokens, and the combined ~62-bit space keeps the
    birthday collision risk negligible at banking scale (~10⁻⁷ for
    10⁶ subjects; a single 2³¹ fold would already collide at ~5·10⁴).
    The salt rotates per purpose/recipient: different exports never
    correlate. Pure map-side column expressions, no shuffle.

    Companion to erase_keys: erasure removes the subject; this keeps
    analytic utility while removing identifiability.
    """
    from pyspark.sql import functions as F

    def fold(s, base: int):
        codes = F.transform(F.split(s, ""), lambda ch: F.ascii(ch).cast("long"))
        return F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * base + x) % 2147483647,
        )

    out = df
    for c in cols:
        s = F.concat(F.lit(salt + "|"), F.col(c).cast("string"))
        token = F.when(
            F.col(c).isNull(), F.lit(None).cast("string")
        ).otherwise(
            F.concat(
                F.lit("anon_"),
                fold(s, 131).cast("string"),
                F.lit("_"),
                fold(s, 137).cast("string"),
            )
        )
        out = out.withColumn(c, token)
    return out


# ---------------------------------------------------------------------------
# Round 5 — PII pattern detection / redaction (GDPR Art. 4(1) personal-
# data discovery: the scan that tells you WHERE erasure/pseudonymization
# must run; complements erase_keys (Art. 17) and pseudonymize_columns
# (Art. 4(5)) above).
# ---------------------------------------------------------------------------

# Cross-engine-safe regexes: character classes, bounded quantifiers and
# alternation only — identical semantics in Java regex (Spark) and RE2
# (DuckDB), which is what lets the scan carry an oracle twin.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
    "card": r"[0-9]{13,16}",
    "id_token": r"[0-9]{6,}",
    "number": r"[0-9]+",
}


def pii_pattern_counts(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str],
    surface: str,
) -> DataFrame:
    """PII-pattern screen over one text surface: for each named
    pattern, total non-overlapping matches and rows containing ≥1 —
    ONE conditional-aggregate pass per surface (the rule_screen
    shape), unpivoted cluster-side to (surface, pattern, n_rows,
    n_rows_matching, n_matches) rows. Map-side regex, no shuffle
    until the single-row agg."""
    names = sorted(patterns)
    cnt = {
        n: F.regexp_count(F.col(text_col), F.lit(patterns[n]))
        for n in names
    }
    # n_rows counts SCANNABLE (non-null) texts, and the match sums
    # coalesce to 0 — so an empty or all-NULL surface reports explicit
    # zero rows instead of NULL sums, identically to the DuckDB twin's
    # patterns-LEFT-JOIN-surface formulation (which keeps one output
    # row per pattern even when the surface is empty)
    wide = df.agg(
        F.count(F.col(text_col)).alias("__n"),
        *[
            F.coalesce(F.sum(cnt[n]), F.lit(0).cast("long")).alias(f"__m_{n}")
            for n in names
        ],
        *[F.count_if(cnt[n] > 0).alias(f"__r_{n}") for n in names],
    )
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(surface).alias("surface"),
                        F.lit(n).alias("pattern"),
                        F.col("__n").alias("n_rows"),
                        F.col(f"__r_{n}").alias("n_rows_matching"),
                        F.col(f"__m_{n}").alias("n_matches"),
                    )
                    for n in names
                ]
            )
        ).alias("s")
    ).select("s.*")


def pii_redact(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str] | None = None,
    placeholder: str = "[PII]",
) -> DataFrame:
    """Redact every PII-pattern match in ``text_col`` with
    ``placeholder`` — chained map-side regexp_replace (global, like
    the training-data scrubbing pass before corpus export). Patterns
    apply in SPECIFICITY order (email, phone, card, id_token, number,
    then any extra names sorted): phone must run before the bare
    digit-run patterns or '+44 1234 567890' fragments into several
    placeholders; card before number so a 16-digit PAN collapses to
    ONE placeholder instead of being re-matched by the broader
    pattern. No PII survives either way — the order only fixes
    placeholder granularity."""
    pats = patterns or PII_PATTERNS
    _specificity = ("email", "phone", "card", "id_token", "number")
    ordered = [n for n in _specificity if n in pats] + sorted(
        n for n in pats if n not in _specificity
    )
    out = F.col(text_col)
    for n in ordered:
        out = F.regexp_replace(out, pats[n], placeholder)
    return df.withColumn(text_col, out)
