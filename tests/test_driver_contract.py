"""The driver imports __spark_entry__ and hands it ITS OWN SparkSession —
not our tuned factory. Everything must work on a vanilla session:
configure_runtime (called inside registry_util.t) must set every conf the
queries depend on (UTC, nanosAsLong, python filter pushdown) at runtime.
"""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

# vanilla session: none of the engine's builder confs
spark = (
    SparkSession.builder.master("local[4]")
    .appName("vanilla-driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import importlib
mod = importlib.import_module("__spark_entry__")

rows = mod.entry(spark).collect()
assert len(rows) > 0, "entry() empty on vanilla session"

qs = mod.queries()
oracles = mod.oracle_sql()
assert set(oracles) <= set(qs), "oracle keys must be a subset of query keys"

# the confs-sensitive queries: events (nanos ts), timestamps, python DS,
# plus the r7 format-roundtrip (multiLine CSV scan-back), the
# micros-arithmetic z-test, and the r8 materialized shared stages
# (parquet stage write + scan-back must work on a session we did not
# configure: graph key -> edge stage, dedup key -> signature stage)
for name in ["window_tumbling", "ts_concat_parse", "topk_latest", "tpch_q1",
             "source_csv_roundtrip", "stat_proportions_ztest",
             "graph_powerlaw_alpha", "dedup_minhash_lsh"]:
    out = qs[name](spark, "/root/testdata/sf0.001")
    assert out.count() >= 0, name
print("VANILLA_OK", len(qs))
"""


def test_driver_contract_on_vanilla_session():
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT], capture_output=True, text=True, timeout=300
    )
    assert "VANILLA_OK" in r.stdout, f"stdout={r.stdout[-2000:]}\nstderr={r.stderr[-2000:]}"


def test_registry_order_is_registration_order():
    """``all_queries()`` is the plain ``FAMILIES`` merge: families in
    registration order, each family's keys in its own dict order, no
    key twice, and the same key set and oracle set as the families
    themselves."""
    from fitness_data_ingest_spark import registry

    expected = [k for _name, fam in registry.FAMILIES for k in fam]
    ordered = list(registry.all_queries())
    assert ordered == expected
    assert len(ordered) == len(set(ordered)), "duplicate keys"
    assert list(registry.queries()) == expected
    oracles = {
        k: q.sql for _name, fam in registry.FAMILIES for k, q in fam.items()
        if q.sql is not None
    }
    assert registry.oracle_sql() == oracles
    assert list(registry.oracle_sql()) == [k for k in expected if k in oracles]


def test_registry_families_have_no_key_collisions():
    """A key defined in two family dicts silently shadows one plan with
    the other (dict.update order wins) — caught live in round 3 when a
    new family re-defined core's ``unpivot_melt``, and AGAIN in round 7
    when a new r7 key re-defined r6's ``events_survival_km`` (this test
    then only covered six families, so the shadowing was invisible
    until a registry count came up one short). Every registry key must
    come from exactly one family, across ALL families registry.py
    merges — iterate registry.FAMILIES itself so a newly added family
    can never dodge the check."""
    from collections import Counter

    from fitness_data_ingest_spark import registry

    counts = Counter()
    for _name, family in registry.FAMILIES:
        counts.update(family.keys())
    dupes = sorted(k for k, n in counts.items() if n > 1)
    assert not dupes, f"registry keys defined in more than one family: {dupes}"
    # and the merged registry lost nothing to shadowing
    assert len(registry.all_queries()) == sum(counts.values())


def test_registry_modules_follow_the_key_prefix_rule():
    """A key lives in the domain module named by its prefix (the text
    before the first ``_``), and the ten modules hold all 324 keys."""
    from fitness_data_ingest_spark import registry

    prefixes = {
        "tpch": {"tpch"},
        "relational": {
            "join", "agg", "filter", "project", "set", "union", "topk",
            "pivot", "unpivot", "array", "string", "date", "datetime", "cast",
            "math", "scalar", "json", "schema", "explode", "normalize",
            "generate", "epoch", "flagship", "orders", "dim", "range", "sql",
        },
        "warehouse": {
            "sink", "manifest", "source", "files", "zorder", "table",
            "layout", "warehouse", "merge", "scd2", "ivm", "dq",
        },
        "events": {"events", "ts", "feature"},
        "stats": {"stat", "sample", "ml"},
        "graph": {"graph", "affinity"},
        "text": {"text", "corpus"},
        "similarity": {"dedup", "er", "ann", "embed", "rag", "geo"},
        "multimodal": {"multimodal"},
        "stream": {"stream", "window"},
    }
    owners = [p for ps in prefixes.values() for p in ps]
    assert len(owners) == len(set(owners)), "a prefix mapped to two modules"
    assert [name for name, _fam in registry.FAMILIES] == list(prefixes)
    for name, fam in registry.FAMILIES:
        misplaced = [k for k in fam if k.split("_")[0] not in prefixes[name]]
        assert not misplaced, f"{name} holds keys of other modules: {misplaced}"
    assert sum(len(fam) for _name, fam in registry.FAMILIES) == 324


def test_readme_contract_table_is_current():
    """README carries the generated driver-contract surface table (key,
    module, family, oracle type), one row per registry key. It must
    equal the generator's output, so it can never drift from
    registry.all_queries()."""
    import os

    from fitness_data_ingest_spark import contract, registry

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "README.md")) as f:
        text = f.read()
    assert [r["key"] for r in contract.contract_rows()] == sorted(registry.all_queries())
    assert contract.render_markdown() in text, (
        "README contract table is stale: python -m fitness_data_ingest_spark.contract"
    )


def test_temp_sink_keys_survive_cross_sf_lazy_interleave(spark):
    """Registered keys that sink to a temp dir and scan it back return
    LAZY DataFrames — the driver may build the same key for two SFs
    before collecting either. Every such sink must be keyed by
    (pid, sf) or the second build's overwrite deletes the files the
    first build's scan will read (FAILED_READ_FILE). Caught live in
    round 8 on the CORE sink_roundtrip key (the r7 format-roundtrip
    keys had been fixed by ADVICE, the older core key had the same
    bug): build a->b, collect b->a."""
    from fitness_data_ingest_spark import registry

    qs = registry.all_queries()
    for name in (
        "sink_roundtrip",
        "files_compaction_plan",
        "source_jsonl_roundtrip",
        "source_csv_roundtrip",
        "source_orc_roundtrip",
    ):
        a = qs[name].spark(spark, "/root/testdata/sf0.001")
        b = qs[name].spark(spark, "/root/testdata/sf0.01")
        nb = b.count()
        na = a.count()  # pre-fix: FAILED_READ_FILE here
        assert na > 0 and nb > 0, name


def test_driver_sim_stratified_sample_is_deterministic_and_family_covering():
    """The smoke tier (round-8 verdict item 6): --sample N must pick
    one key per registry family before any family contributes twice,
    be fully deterministic (no clock/rng), and rotate its picks with
    --offset so successive smokes exercise different representatives."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "driver_sim",
        os.path.join(os.path.dirname(__file__), "..", "tools", "driver_sim.py"),
    )
    sim = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sim)

    from fitness_data_ingest_spark.registry import FAMILIES, all_queries

    queries = all_queries()
    n_fams = sum(1 for _n, fam in FAMILIES if any(k in queries for k in fam))

    picked = sim._stratified_sample(queries, n_fams)
    assert len(picked) == len(set(picked)) == n_fams
    # one per family: no two picks share a family on the first pass
    fam_of = {k: name for name, fam in FAMILIES for k in fam}
    assert len({fam_of[k] for k in picked}) == n_fams
    # deterministic
    assert picked == sim._stratified_sample(queries, n_fams)
    # offset rotates representatives (at least one family has >1 key)
    assert picked != sim._stratified_sample(queries, n_fams, offset=1)
    # oversampling wraps round-robin without duplicates until exhausted
    big = sim._stratified_sample(queries, 2 * n_fams)
    assert len(big) == len(set(big)) == 2 * n_fams
