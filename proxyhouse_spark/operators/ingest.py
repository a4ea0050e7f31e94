"""Ingest-path operators — the reference's data plane (SURVEY §2.1-§2.4).

Pipeline shape (reference ``dorequest`` main.go:164-226 → ``backgroundSender``
main.go:275-299):

    request records → validation filters (P1-P3) → key projection (P4)
    → format dispatch (P5) → groupBy(uri).agg(concat bodies, sum rowcount)
    (A1+A2) → one sink row per distinct key per batch (S2) with URL rewrite
    (S3)

Everything here is built-in DataFrame expressions — whole-stage codegen,
no Python in the hot path. The groupBy is a hash aggregation with map-side
partial combine; at 100 TB the shuffle key is ``uri`` (the distinct-URI
cardinality is tiny — one per table×format — so the reduced side is
trivially small; skew on a hot table is absorbed by AQE skew handling and
the map-side partial aggregation, which shrinks each partition to ≤ one row
per distinct key before the shuffle).

Concat order within a key is nondeterministic in the reference under
concurrency (README.md:69-75); the engine defines the deterministic
canonical form: bodies sorted lexicographically within the key
(``sort_array(collect_list(...))``), making results reproducible and
oracle-comparable without changing the multiset of rows delivered.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import (
    extract_table,
    format_dispatch,
    row_count,
    sql_quote,
    url_rewrite,
)

FWD_HOST = "http://clickhouse:8123"
REPL_HOST = "http://localhost:8123"


def accepted() -> Column:
    """P1-P3: a data-plane request (POST, path '/', non-empty body).

    Reference: method switch main.go:171-225, path check main.go:166-169,
    empty-body 405 main.go:219-221."""
    return (F.col("method") == "POST") & (F.col("path") == "/") & (F.length("body") > 0)


def validate_requests(df: DataFrame) -> DataFrame:
    """Keep only accepted requests. Pure narrow filters — pushed to the scan."""
    return df.filter(accepted())


def with_fmt(df: DataFrame) -> DataFrame:
    """Derive the format tag from the decoded query's suffix when the
    source doesn't carry one (live HTTP traffic via sources/http_ingest):
    the reference's only format signal is the query-string suffix test,
    main.go:189-197. Synthetic request sources already carry ``fmt`` (it
    generated the query text) — kept as-is so oracle plans don't change."""
    if "fmt" in df.columns:
        return df
    fmt = (
        F.when(F.col("query").endswith("FORMAT TSV"), F.lit("TSV"))
        .when(F.col("query").endswith("FORMAT CSV"), F.lit("CSV"))
        .otherwise(F.lit("Values"))
    )
    return df.withColumn("fmt", fmt)


def with_format(df: DataFrame, delim: str = ",") -> DataFrame:
    """P5: derive (delimiter, separator, addrows) from the decoded query.
    ``delim`` is the operator-configurable Values delimiter — the
    reference's ``-delim`` flag (main.go:38); TSV/CSV and the row-count
    separator are unaffected by it (main.go:189-197)."""
    delimiter, separator, addrows = format_dispatch(F.col("query"), delim)
    return (
        df.withColumn("delimiter", delimiter)
        .withColumn("separator", separator)
        .withColumn("addrows", addrows)
    )


def with_row_count(df: DataFrame) -> DataFrame:
    """A2: per-request row count (reference main.go:206)."""
    return df.withColumn(
        "n_rows", row_count(F.col("body"), F.col("separator"), F.col("addrows"))
    )


def buffer_aggregate(df: DataFrame, delim: str = ",") -> DataFrame:
    """A1+A2 — THE core operator: per-key body concat + row count.

    Reference Buffer semantics (main.go:198-208): Values bodies joined by
    the configured ``-delim`` (main.go:38, default ','); TSV/CSV bodies
    joined by '' (their rows carry their own trailing newlines). First
    body gets no leading delimiter — exactly what concat_ws / array_join
    produce.

    Scale: map-side partial aggregation collapses each input partition to one
    row per distinct uri before the shuffle; the post-shuffle state is
    O(#distinct uris), independent of input row count.

    Spelled with ``listagg`` (string_agg): concatenates directly into the
    aggregation buffer instead of materializing a sorted array first
    (collect_list + sort_array + array_join) — measured 1.2-1.6× faster
    at sf0.1 with byte-identical output. The delimiter is per-format and
    listagg's delimiter must be foldable, so each group evaluates both
    spellings and the CASE (on the ``fmt`` group key) picks one — the
    wasted twin concat still beats the array materialization.
    """
    prepared = with_row_count(with_format(with_fmt(validate_requests(df)), delim))
    buffer = F.expr(
        "CASE WHEN fmt = 'Values'"
        f" THEN listagg(body, {sql_quote(delim)}) WITHIN GROUP (ORDER BY body)"
        " ELSE listagg(body, '') WITHIN GROUP (ORDER BY body) END"
    )
    return prepared.groupBy("uri", "fmt").agg(
        buffer.alias("buffer"),
        F.sum("n_rows").cast("bigint").alias("rowcount"),
        F.count(F.lit(1)).cast("bigint").alias("n_requests"),
    )


def sink_frame(
    df: DataFrame,
    fwd: str = FWD_HOST,
    repl: str = REPL_HOST,
    delim: str = ",",
) -> DataFrame:
    """S2+S3: the outbound batch — one row per distinct key per flush with the
    rewritten target URL and extracted table (reference send(), main.go:376-445).
    """
    agg = buffer_aggregate(df, delim)
    return agg.select(
        "uri",
        url_rewrite(F.col("uri"), fwd, repl).alias("target_url"),
        extract_table(F.col("uri")).alias("table_name"),
        "buffer",
        "rowcount",
        "n_requests",
    )


def values_parse(df: DataFrame, delim: str = ",") -> DataFrame:
    """Round-trip parse of FORMAT Values buffers back into row counts.

    The inverse of :func:`buffer_aggregate` for Values keys: split the
    flushed buffer on the row boundaries and check the parsed row count
    against the reference's rowcount arithmetic (main.go:206 counts
    ``),`` occurrences + 1 per request — the two agree exactly for
    well-formed tuples; a value containing ``),`` would diverge in the
    reference too, SURVEY §5.2). Under a non-default ``-delim`` the
    boundary between REQUESTS is ``)<delim>(`` while the boundary between
    a request's own rows stays ``),(`` — both split. Narrow projection
    over the already-aggregated frame — no extra shuffle.
    """
    agg = buffer_aggregate(df, delim).filter(F.col("fmt") == "Values")
    boundary = r"\),\("
    if delim != ",":
        boundary += r"|\)" + re.escape(delim) + r"\("
    n_parsed = F.size(F.split(F.col("buffer"), boundary)).cast("bigint")
    return agg.select(
        "uri",
        n_parsed.alias("n_parsed"),
        "rowcount",
        (n_parsed == F.col("rowcount")).alias("matched"),
    )


def lines_parse(df: DataFrame) -> DataFrame:
    """Round-trip parse of TSV/CSV buffers — and the reference's silent
    row-merge edge, end-to-end.

    TSV/CSV rowcount counts ``\\n`` occurrences (main.go:192-197, 206), and
    bodies concatenate with an empty delimiter (main.go:194, 203), so a
    body missing its trailing newline merges its last row with the next
    body's first row. Parsing the flushed buffer back (rows = newline
    splits with a trailing-empty fragment dropped) therefore yields
    n_parsed < rowcount exactly for keys containing such a body:
    ``matched = false`` IS the quirk, reproduced and pinned (SURVEY §1.2).
    """
    agg = buffer_aggregate(df).filter(F.col("fmt") != "Values")
    frags = F.split(F.col("buffer"), "\n")
    n_parsed = (
        F.size(frags)
        - F.when(F.element_at(frags, -1) == "", 1).otherwise(0)
    ).cast("bigint")
    return agg.select(
        "uri",
        "fmt",
        n_parsed.alias("n_parsed"),
        "rowcount",
        (n_parsed == F.col("rowcount")).alias("matched"),
    )


def buffer_aggregate_salted(
    df: DataFrame, n_salts: int = 16, delim: str = ","
) -> DataFrame:
    """A1+A2 under heavy key skew: the two-stage salted spelling.

    When one URI dominates the stream (the reference's real workload IS
    one hot table), a single hash partition receives nearly all rows.
    Stage 1 aggregates by (uri, fmt, salt) — n_salts-way fan-out of the hot
    key, map-side combined like any groupBy; stage 2 merges the per-salt
    partials (flatten + resort, sum counts) on the true key, touching only
    #keys × n_salts rows. Produces byte-identical output to
    :func:`buffer_aggregate` (same oracle — proven in the registry).

    This is the manual fallback for when AQE skew handling can't apply
    (skewed AGGREGATION, not join: AQE splits skewed join partitions, but
    a skewed groupBy partition is irreducible without salting).

    Measured crossover (tools/skew_probe.py, r07; 50%-hot-key synthetic,
    fresh JVM per sample; nominal --salts 32, but the probe's salt was
    then correlated with the hot-key predicate, so the hot key's
    EFFECTIVE fan-out was 16 — exactly this function's shipped default,
    making the numbers below measurements of the shipped recipe; the
    probe's salt has since been decorrelated): this is the spelling for
    a hot key whose
    BUFFER exceeds one task's budget, not a default. Below that point the
    one-stage groupBy wins outright — 8M rows (hot buffer ~40 MB):
    one-stage 2.2 s rock-stable vs two-stage 61 s median with a 4.5-88 s
    spill/GC pathology, because Spark's ObjectHashAggregate sort-based
    fallback already streams the hot group through one task at scan speed
    while the two-stage pays a second full shuffle of every body byte.
    Past task capacity the straggler turns superlinear and the ranking
    flips — 40M rows (hot buffer ~200 MB): one-stage 313 s (183-401),
    two-stage 172 s (139-186), 1.8x ahead and 5x tighter. At 100 TB the
    reference's real workload (one table taking half the stream) sits far
    past the crossover, which is why this spelling exists.
    """
    prepared = with_row_count(with_format(with_fmt(validate_requests(df)), delim))
    # hash salt, not `event_id % n_salts`: the modulo spelling silently
    # loses fan-out when the hot key's ids are non-uniform mod n_salts
    # (ids striped by source shard); xxhash64 decorrelates the salt from
    # any id distribution by construction (ADVICE r08 #1). Salt only
    # partitions — the oracle (same as the unsalted twin) proves output
    # is unchanged.
    salted = prepared.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)).cast("int")
    )
    partial = salted.groupBy("uri", "fmt", "salt").agg(
        F.collect_list("body").alias("bodies_part"),
        F.sum("n_rows").alias("rowcount_part"),
        F.count(F.lit(1)).alias("n_requests_part"),
    )
    merged = partial.groupBy("uri", "fmt").agg(
        F.sort_array(F.flatten(F.collect_list("bodies_part"))).alias("bodies"),
        F.sum("rowcount_part").alias("rowcount"),
        F.sum("n_requests_part").alias("n_requests"),
    )
    buffer = F.when(
        F.col("fmt") == "Values", F.array_join(F.col("bodies"), delim)
    ).otherwise(F.array_join(F.col("bodies"), ""))
    return merged.select(
        "uri",
        "fmt",
        buffer.alias("buffer"),
        F.col("rowcount").cast("bigint").alias("rowcount"),
        F.col("n_requests").cast("bigint").alias("n_requests"),
    )
