"""Self-test of the benchmark, run from the root of a checkout::

    python3 perfbench/selftest.py

1. A smoke run (``workloads.SMOKE`` sizes, traced) of every workload:
   each must finish, pass its checks and report every metric that
   BENCHMARK.json names. On ``crawl_recrawl`` the link-discovery layer
   must read zero, since re-polling unchanged pages bypasses it.
2. Every correctness check is handed a deliberately corrupted copy of
   the output the smoke run collected and must report a problem; the
   uncorrupted output must pass.
3. The benchmark, copied into a directory without the engine, must exit
   non-zero without printing a result.

Exits 0 when every item holds. Takes several minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import procs  # noqa: E402
import run as R  # noqa: E402
import workloads as W  # noqa: E402


class Report:
    def __init__(self) -> None:
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        print(f"{'ok  ' if ok else 'FAIL'}  {what}", flush=True)
        if not ok:
            self.failures.append(what)

    def bites(self, name: str, clean: list[str], corrupted: list[str]) -> None:
        self.expect(not clean, f"{name}: passes on the real output {clean[:1]}")
        self.expect(bool(corrupted), f"{name}: fails on corrupted output {corrupted[:1]}")


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def smoke(rep: Report, work: str, settings: dict) -> dict:
    spec = _bench_spec()
    results = {}
    for wl in W.WORKLOADS:
        res, contract = R.run(wl, 7, 1.0, True, W.SMOKE, settings, os.path.join(work, wl))
        results[wl] = res
        rep.expect(contract is not None and res.failed == 0,
                   f"{wl}: smoke run completes, {res.failed} of {res.attempted} failed {res.problems[:2]}")
        if contract is not None:
            rep.expect(set(contract) == {m["name"] for m in spec["end_to_end"]},
                       f"{wl}: reports every end-to-end metric")
            rep.expect(all(v > 0 for v in contract.values()), f"{wl}: end-to-end metrics are non-zero")
        missing_times = [
            m["name"] for m in spec["per_layer"]
            if m["name"] not in res.layer and m["unit"] in ("s", "ms")
        ]
        rep.expect(not missing_times, f"{wl}: measures every per-layer time {missing_times[:3]}")
    rc = results["crawl_recrawl"].layer
    rep.expect(rc["epoch.phase.links_seen.share"].value == 0
               and rc["seen.new_frac"].value == 0,
               "crawl_recrawl: links_seen share and seen.new_frac read 0")
    return results


def _corrupt_table(tbl: pa.Table) -> pa.Table:
    """Change one cell of the first column whose type we can perturb."""
    rows = tbl.to_pylist()
    for col in tbl.schema.names:
        v = rows[0][col]
        if isinstance(v, bool):
            rows[0][col] = not v
        elif isinstance(v, (int, float)):
            rows[0][col] = v + 1
        elif isinstance(v, str):
            rows[0][col] = v + "x"
        else:
            continue
        return pa.Table.from_pylist(rows, schema=tbl.schema)
    raise ValueError("no column to corrupt")


def corruptions(rep: Report, results: dict, work: str) -> None:
    d = results["crawl_discover"].outputs
    corpus, docs, seeds, st = d["corpus"], d["doc_texts"], d["seeds"], d["state"]
    ext = st["extracted"]
    ext_urls = [u for u, _ in ext]
    bad_text = [(ext[0][0], ext[0][1] + " ")] + ext[1:]
    rep.bites("extracted_text", checks.extracted_text(ext, corpus, docs),
              checks.extracted_text(bad_text, corpus, docs))
    fr = st["frontier_urls"]
    rep.bites("frontier_membership (row dropped)",
              checks.frontier_membership(fr, ext_urls, seeds, corpus),
              checks.frontier_membership(fr[1:], ext_urls, seeds, corpus))
    upper = [fr[0].replace("http://", "HTTP://")] + fr[1:]
    rep.bites("frontier_membership (non-canonical)",
              checks.frontier_membership(fr, ext_urls, seeds, corpus),
              checks.frontier_membership(upper, ext_urls, seeds, corpus))
    hs = st["frontier_hashes"]
    rep.bites("unique_url_hash", checks.unique_hashes(hs), checks.unique_hashes(hs + hs[:1]))
    cs = d["counters"]
    bumped = [dict(cs[0], n_fetched=cs[0]["n_fetched"] + 1)] + cs[1:]
    rep.bites("counters_repeat", checks.counters_repeat(cs, cs), checks.counters_repeat(cs, bumped))

    r = results["crawl_recrawl"].outputs
    es, size = r["epoch_stats"], len(r["seeds"].pages)
    rep.bites("recrawl_epochs (extracted)", checks.recrawl_epochs(es, size),
              checks.recrawl_epochs([dict(es[0], n_extracted=1)] + es[1:], size))
    rep.bites("recrawl_epochs (frontier size)", checks.recrawl_epochs(es, size),
              checks.recrawl_epochs(es[:-1] + [dict(es[-1], frontier_size=size + 1)], size))
    pc = r["state"]["page_cache"]
    bad_pc = [(pc[0][0], "0" * 40)] + pc[1:]
    rep.bites("page_cache_sha1",
              checks.page_cache_digests(pc, r["corpus"], r["doc_texts"]),
              checks.page_cache_digests(bad_pc, r["corpus"], r["doc_texts"]))

    import __spark_entry__ as entry

    q = results["query_mix"].outputs["passes"][0]["results"]
    sql = entry.oracle_sql()
    cmp = checks.OracleComparator(os.path.join(work, "query_mix", "tables"))
    try:
        for name in W.HEADLINE_QUERIES:
            if name in W.UNCHECKED_QUERIES:
                continue
            oracle = cmp.oracle(sql[name])
            tbl = q[name]
            rep.bites(f"oracle:{name} (cell changed)", cmp.compare(tbl, oracle),
                      cmp.compare(_corrupt_table(tbl), oracle))
            rep.bites(f"oracle:{name} (row dropped)", cmp.compare(tbl, oracle),
                      cmp.compare(tbl.slice(1), oracle))
    finally:
        cmp.close()


def bare_directory(rep: Report, work: str) -> None:
    """The benchmark alone, without the engine it measures, must refuse."""
    bare = os.path.join(work, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_discover",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=170,
    )
    last = (p.stdout.strip().splitlines() or [""])[-1]
    rep.expect(p.returncode != 0 and '"correct"' not in last,
               f"without the engine: exit {p.returncode}, no result line")
    shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    rep = Report()
    work = os.path.join(R.WORK_ROOT, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    settings = R.host_settings()
    R.prepare_env(work, settings)
    try:
        bare_directory(rep, work)
        results = smoke(rep, work, settings)
        if all(res.op_walls for res in results.values()):
            corruptions(rep, results, work)
    finally:
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)
    print(f"\n{len(rep.failures)} failure(s)")
    return 1 if rep.failures else 0


if __name__ == "__main__":
    sys.exit(main())
