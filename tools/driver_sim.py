#!/usr/bin/env python
"""Full driver simulation (the /verify recipe as a script).

Mirrors the driver exactly: fresh process, import
``__spark_entry__`` from the repo root, smoke ``entry()`` at sf0.001,
then run EVERY ``queries()`` key side-by-side with its ``oracle_sql()``
string through the same comparison semantics the driver applies
(row count + column set + result-column types + order-insensitive
exact values — ``tests/oracle_harness.compare``).

Usage:
    python tools/driver_sim.py                 # all oracle-paired keys
    python tools/driver_sim.py key1 key2 ...   # a subset
    python tools/driver_sim.py --sample 10     # stratified smoke:
                                               # one key per domain
                                               # module, round-robin,
                                               # N total
    python tools/driver_sim.py --sample 10 --offset 3   # rotate picks
    SIM_SF_DIR=/root/testdata/sf0.001 python tools/driver_sim.py

Two tiers: the FULL sim (~6 min at sf0.01) checks a change before it
lands; ``--sample N`` is the ~1-minute smoke between full runs —
stratified one key per domain module (``registry.FAMILIES``), so every
operator family executes under driver semantics, with ``--offset``
rotating WHICH key represents each module across invocations
(deterministic: offset k picks each module's k-th key, wrapping).

Exit 0 iff every sampled oracle-paired key compares green (rows-only
keys are executed and row-counted but cannot fail the hash, matching
the driver's weaker check).
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tests"))


def _stratified_sample(queries: dict, n: int, offset: int = 0) -> list[str]:
    """One key per domain module, round-robin until ``n`` keys:
    pass 0 takes each module's ``offset``-th key (wrapping), pass 1 the
    next, and so on — every module is represented before any module
    contributes twice, and successive offsets rotate which key stands
    for its module. Deterministic (registration order, no clock/rng)."""
    from fitness_data_ingest_spark.registry import FAMILIES

    picked: list[str] = []
    fams = [
        [k for k in fam if k in queries] for _name, fam in FAMILIES
    ]
    fams = [f for f in fams if f]
    rounds = 0
    while len(picked) < n and rounds < max(len(f) for f in fams):
        for f in fams:
            if len(picked) >= n:
                break
            key = f[(offset + rounds) % len(f)]
            if key not in picked:
                picked.append(key)
        rounds += 1
    return picked[:n]


def main() -> int:
    import importlib

    from oracle_harness import compare, duck_con

    mod = importlib.import_module("__spark_entry__")
    from fitness_data_ingest_spark.session import get_spark

    sf_dir = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")

    # argument validation runs BEFORE the Spark session spins up — a
    # usage mistake should cost milliseconds, not a JVM start
    queries = mod.queries()
    oracles = mod.oracle_sql()
    args = sys.argv[1:]

    def _int_flag_value(arglist: list, i: int, flag: str, minimum: int):
        """Extract arglist[i+1] as an int >= minimum, or print a usage
        diagnostic and return None (a missing/non-integer value gets the
        same clean exit 2 as the other argument misuses, not a
        traceback)."""
        try:
            v = int(arglist[i + 1])
        except (IndexError, ValueError):
            got = arglist[i + 1] if i + 1 < len(arglist) else "<missing>"
            print(
                f"usage: {flag} <int >= {minimum}> (got {got!r})",
                file=sys.stderr,
            )
            return None
        if v < minimum:
            print(
                f"usage: {flag} <int >= {minimum}> (got {v})",
                file=sys.stderr,
            )
            return None
        return v

    if "--sample" in args:
        i = args.index("--sample")
        n = _int_flag_value(args, i, "--sample", 1)
        if n is None:
            return 2
        rest = args[:i] + args[i + 2 :]
        off = 0
        if "--offset" in rest:
            j = rest.index("--offset")
            off = _int_flag_value(rest, j, "--offset", 0)
            if off is None:
                return 2
            rest = rest[:j] + rest[j + 2 :]
        if rest:
            # refuse to silently drop explicitly-listed keys — the
            # operator would believe they were verified
            print(
                f"--sample is exclusive with explicit keys: {rest}",
                file=sys.stderr,
            )
            return 2
        names = _stratified_sample(queries, n, off)
        print(f"stratified sample ({n} keys, offset {off}): {names}", flush=True)
    elif "--offset" in args:
        print("--offset requires --sample", file=sys.stderr)
        return 2
    else:
        names = args or list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(
        app_name="fdis-driver-sim",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    smoke = mod.entry(spark).collect()
    print(f"entry() smoke: {len(smoke)} rows", flush=True)
    assert len(smoke) > 0

    con = duck_con(sf_dir)
    t0 = time.perf_counter()
    failed: list[str] = []
    n_hash = n_rows_only = 0
    for i, name in enumerate(names, 1):
        t1 = time.perf_counter()
        try:
            df = queries[name](spark, sf_dir)
            sql = oracles.get(name)
            if sql is None:
                n = df.count()
                n_rows_only += 1
                verdict, msg = True, f"rows-only ({n} rows)"
            else:
                n_hash += 1
                verdict, msg = compare(df, con, sql)
        except Exception as exc:  # noqa: BLE001 — driver records err rows
            verdict, msg = False, f"err: {type(exc).__name__}: {exc}"
        took = time.perf_counter() - t1
        status = "ok" if verdict else "FAIL"
        print(f"[{i}/{len(names)}] {name}: {status} ({took:.2f}s) {'' if verdict else msg}",
              flush=True)
        if not verdict:
            failed.append(name)
    total = time.perf_counter() - t0
    print(
        f"\n{len(names) - len(failed)}/{len(names)} green "
        f"({n_hash} hash-compared, {n_rows_only} rows-only) in {total:.1f}s "
        f"at {sf_dir}"
    )
    if failed:
        print(f"FAILED: {failed}", file=sys.stderr)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
