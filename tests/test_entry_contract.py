"""Invariants of the driver-contract module itself: the certification
window ordering (__spark_entry__._ordered_names) steers which ops the
round driver verifies — a bug here silently misdirects certification,
so the ordering rules are pinned against the REAL accumulated
CORRECTNESS files, and finalize_cached's two modes are pinned against
a live session."""

from __future__ import annotations

import importlib.util
import os
import re

_SPEC = importlib.util.spec_from_file_location(
    "__spark_entry__",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "__spark_entry__.py"),
)
entry = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(entry)


def test_ordering_partitions_and_priorities():
    """The window order must be: changed-certified (recertify) first,
    then never-certified, then already-certified stalest-first — and
    must cover the whole registry exactly once."""
    names = entry._ordered_names()
    done, _attempts, cert_round = entry._certification_state()
    assert sorted(names) == sorted(entry.REGISTRY), "must cover registry 1:1"

    recert = {n for n in entry._RECERTIFY if n in done}
    phase = {n: 0 if n in recert else (2 if n in done else 1) for n in names}
    seen_phase = [phase[n] for n in names]
    assert seen_phase == sorted(seen_phase), (
        "ordering must be recertify -> never-certified -> certified tail"
    )

    tail = [n for n in names if phase[n] == 2]
    rounds = [cert_round.get(n, 0) for n in tail]
    assert rounds == sorted(rounds), "certified tail must be stalest-first"


def test_oracle_map_is_subset_with_same_order_keys():
    """oracle_sql() must expose exactly the SQL-expressible subset of
    queries(), keyed identically (the driver zips them by name)."""
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    assert all(isinstance(sql, str) and sql.strip() for sql in o.values())
    # the declared rows-only ops are the ONLY missing oracles
    missing = set(q) - set(o)
    assert missing == {
        n for n in entry.REGISTRY if entry.REGISTRY[n].oracle is None
    }


def test_finalize_cached_modes(spark):
    """Eager mode returns a materialized checkpoint and releases the
    cached input; lazy mode returns the original lazy plan."""
    from pyspark.storagelevel import StorageLevel

    from cdc_pubsub_spark import tables

    base = spark.range(100).toDF("x").persist()
    out = base.groupBy((base.x % 3).alias("k")).count()
    got = tables.finalize_cached(out, base)
    assert got.count() == 3
    assert base.storageLevel == StorageLevel.NONE, "input must be unpersisted"
    assert "LogicalRDD" in got._jdf.queryExecution().optimizedPlan().toString()

    base2 = spark.range(100).toDF("x").persist()
    out2 = base2.groupBy((base2.x % 3).alias("k")).count()
    tables.LAZY_PLAN_MODE = True
    try:
        got2 = tables.finalize_cached(out2, base2)
    finally:
        tables.LAZY_PLAN_MODE = False
    assert "LogicalRDD" not in got2._jdf.queryExecution().optimizedPlan().toString()
    assert got2.count() == 3


# Skippable junk between the `*` and its operand when a hash expression
# wraps across source lines: whitespace/newlines, string-literal breaks
# (`" ... "` / `' ... '`, optionally f-prefixed), and `+` concatenation.
# The `f` is only consumed as part of an f-string prefix (`f"`/`f'`), so
# a genuine one-letter identifier operand is never skipped over.
_HASH_LINT_JUNK = "(?:\\s|\"|'|\\+|\\\\|f\"|f')*"
_HASH_MULT_LEFT = re.compile(r"\*" + _HASH_LINT_JUNK + r"$")
_HASH_MULT_RIGHT = re.compile(r"^" + _HASH_LINT_JUNK + r"\*")
_HASH_SAFE_LEFT = re.compile(
    r"(%\s*\d+\s*\)|l_linenumber)" + _HASH_LINT_JUNK + r"\*"
    + _HASH_LINT_JUNK + r"$"
)
_HASH_SAFE_RIGHT = re.compile(
    r"^" + _HASH_LINT_JUNK + r"\*" + _HASH_LINT_JUNK
    + r"(\(\s*[A-Za-z_][A-Za-z0-9_.]*\s*%\s*\d+\s*\)|l_linenumber)"
)


def _unreduced_hash_offences(text: str) -> list[int]:
    """Line numbers of `<unreduced key> * 2654435761` occurrences.

    Scans the WHOLE text with 160-char contexts around each constant so
    a multiplication whose `*` and constant land on different lines
    (wrapped SQL string fragments, implicit continuations) is still
    classified as a multiplication — the round-10 ADVICE hole: the old
    line-at-a-time scan silently skipped exactly the wrapped unsafe
    form the lint was built to catch.
    """
    offences = []
    for m in re.finditer(r"2654435761", text):
        left = text[max(0, m.start() - 160) : m.start()]
        right = text[m.end() : m.end() + 160]
        mult_left = bool(_HASH_MULT_LEFT.search(left))
        mult_right = bool(_HASH_MULT_RIGHT.search(right))
        if not mult_left and not mult_right:
            continue  # not a multiplication (comment, doc)
        ok = (mult_left and _HASH_SAFE_LEFT.search(left)) or (
            mult_right and _HASH_SAFE_RIGHT.search(right)
        )
        if not ok:
            offences.append(text.count("\n", 0, m.start()) + 1)
    return offences


def test_unreduced_hash_lint_catches_wrapped_multiplications():
    """Behavior pin for the lint helper (round-10 ADVICE): the `*` and
    the constant on DIFFERENT lines — line-final `*` before the
    constant line, line-initial `*` after it, and joined string-literal
    fragments — must all still register as multiplications, reduced
    forms must stay safe, and non-multiplication mentions must stay
    ignored."""
    # Wrapped unsafe forms — all must be flagged:
    assert _unreduced_hash_offences("x = key *\n    2654435761\n") == [2]
    assert _unreduced_hash_offences("x = (key\n * 2654435761)\n") == [2]
    assert _unreduced_hash_offences(
        '"SELECT o_orderkey *"\n" 2654435761 AS h"\n'
    ) == [2]
    assert _unreduced_hash_offences(
        'f"SELECT 2654435761 "\n+ f"* o_orderkey"\n'
    ) == [1]
    # Wrapped SAFE forms — reduced key adjacent across the break:
    assert not _unreduced_hash_offences(
        '"(o_orderkey % 1048576) *"\n" 2654435761"\n'
    )
    assert not _unreduced_hash_offences(
        "x = 2654435761 *\\\n    (key % 1048576)\n"
    )
    assert not _unreduced_hash_offences("y = l_linenumber *\n 2654435761\n")
    # Non-multiplication mention (comment/doc): ignored.
    assert not _unreduced_hash_offences("# the 2654435761 Knuth constant\n")
    # One-letter identifier is NOT swallowed by the f-prefix junk rule:
    assert _unreduced_hash_offences("z = (k % 7) + f *\n 2654435761\n") == [2]


def test_no_unreduced_multiplicative_key_hashes():
    """Source lint for the ANSI-overflow class the 10x scale sweeps
    keep catching (14 ops across r09/r10): any `<key> * 2654435761`
    hash must reduce the key first (`% 1048576` / `% 100000`), because
    the probe tree's replica-shifted keys (~2^40) overflow int64 in the
    raw product. Scans every non-test source file for the Knuth
    multiplier applied directly to an unreduced operand — including
    multiplications wrapped across lines (see
    _unreduced_hash_offences). A `% m` reduction or `l_linenumber`
    (<= 7 by fixture, the one raw column small enough to multiply
    directly) adjacent on the multiplication side is safe."""
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "cdc_pubsub_spark")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        if "__pycache__" in dirpath:
            continue
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                text = fh.read()
            lines = text.splitlines()
            for ln in _unreduced_hash_offences(text):
                offenders.append(f"{path}:{ln}: {lines[ln - 1].strip()[:90]}")
    assert not offenders, (
        "unreduced key multiplied by 2654435761 — overflows int64 at "
        "replica-shifted probe keys; reduce the key (% 1048576) first:\n"
        + "\n".join(offenders)
    )


def test_bench_global_window_detector():
    """Unit pin for bench.py's probe-selection window classifier: Spark
    omits EMPTY argument lists when rendering a Window node, so the
    shapes are 3 groups = partitioned, 1 group = global-unordered, and
    the ambiguous 2-group case is global exactly when the tail group is
    an ORDER spec. The first version of this detector got BOTH ambiguous
    directions wrong (r10 self-review finding #1)."""
    import bench

    # partitioned + ordered: never flagged
    assert not bench._is_global_window(
        "Window [rank() windowspecdefinition(a#1L, b#2 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, x, y)) AS r#3], [a#1L], "
        "[b#2 ASC NULLS FIRST]"
    )
    # partitioned, NO order (count over partition): 2 groups, bare
    # partition exprs in the tail — NOT global (the false positive that
    # put dedup_levenshtein_block in the probe set)
    assert not bench._is_global_window(
        "Window [count(1) windowspecdefinition(blk#5, specifiedwindowframe"
        "(RowFrame, x, y)) AS n_blk#9L], [blk#5]"
    )
    # global + ordered (ntile over everything): 2 groups, ordering
    # markers in the tail — flagged
    assert bench._is_global_window(
        "Window [ntile(5) windowspecdefinition(m#9L DESC NULLS LAST, "
        "specifiedwindowframe(RowFrame, x, y)) AS q#12], "
        "[m#9L DESC NULLS LAST, k#6L ASC NULLS FIRST]"
    )
    # global, NO order (sum over Window.partitionBy()): 1 group —
    # flagged (the false negative that escaped probing)
    assert bench._is_global_window(
        "Window [sum(n#2L) windowspecdefinition(specifiedwindowframe("
        "RowFrame, x, y)) AS t#7L]"
    )
