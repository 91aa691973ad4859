"""Correctness checks on workload outputs.

Each check is a pure function over data already collected from the
engine and returns a list of problems (empty means the check passed), so
the self-test can hand it a deliberately corrupted copy and require a
failure. The checks run outside the timed region.
"""

from __future__ import annotations

import importlib.util
import os

from inputs import Corpus, SeedList, page_index

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: epoch counters that must repeat exactly for a given seed and state
COUNTERS = ("n_dequeued", "n_granted", "n_fetched", "n_extracted", "frontier_size")


def _first(items, k: int = 3) -> str:
    return ", ".join(repr(x) for x in list(items)[:k])


def extracted_text(
    rows: list[tuple[str, str]], corpus: Corpus, doc_texts: list[str]
) -> list[str]:
    """Every extracted ``text`` is byte-identical to its page's text."""
    bad = [u for u, t in rows if t != corpus.text(page_index(u), doc_texts)]
    if not rows:
        return ["extracted table is empty"]
    return [f"{len(bad)} extracted texts differ from the page: {_first(bad)}"] if bad else []


def frontier_membership(
    frontier_urls: list[str],
    extracted_urls: list[str],
    seeds: SeedList,
    corpus: Corpus,
) -> list[str]:
    """The frontier holds exactly the canonical seeds plus both out-links
    of every extracted page, each spelled canonically."""
    problems = []
    spelled = [u for u in frontier_urls if u != corpus.url(page_index(u))]
    if spelled:
        problems.append(f"{len(spelled)} non-canonical frontier URLs: {_first(spelled)}")
    got = {page_index(u) for u in frontier_urls}
    want = set(seeds.pages)
    for u in extracted_urls:
        want.update(corpus.links(page_index(u)))
    if got != want:
        problems.append(
            f"frontier pages differ: {len(got - want)} unexpected "
            f"({_first(sorted(got - want))}), {len(want - got)} missing "
            f"({_first(sorted(want - got))})"
        )
    return problems


def unique_hashes(hashes: list[int]) -> list[str]:
    """No ``url_hash`` appears twice in the frontier."""
    dup = len(hashes) - len(set(hashes))
    return [f"{dup} repeated url_hash values in the frontier"] if dup else []


def counters_repeat(a: list[dict], b: list[dict]) -> list[str]:
    """Two runs of the same epochs from the same state report the same
    counters, epoch by epoch, over the epochs both ran."""
    problems = []
    for x, y in zip(a, b):
        diff = {k: (x.get(k), y.get(k)) for k in COUNTERS if x.get(k) != y.get(k)}
        if diff:
            problems.append(f"epoch {x.get('epoch')} counters differ: {diff}")
    return problems


def recrawl_epochs(stats: list[dict], frontier_size: int) -> list[str]:
    """Re-polling unchanged pages extracts nothing and inserts nothing."""
    problems = []
    for st in stats:
        if st["n_extracted"] != 0:
            problems.append(f"epoch {st['epoch']} extracted {st['n_extracted']} pages")
        if st.get("frontier_size") != frontier_size:
            problems.append(
                f"epoch {st['epoch']} frontier size {st.get('frontier_size')} "
                f"!= {frontier_size}"
            )
    return problems


def page_cache_digests(
    rows: list[tuple[str, str]], corpus: Corpus, doc_texts: list[str]
) -> list[str]:
    """Every page_cache digest is the SHA-1 of the page's html bytes."""
    if not rows:
        return ["page_cache is empty"]
    bad = [u for u, d in rows if d != corpus.sha1_hex(page_index(u), doc_texts)]
    return [f"{len(bad)} page_cache digests differ from sha1(html): {_first(bad)}"] if bad else []


def _oracle_module():
    """The repository's Spark-vs-DuckDB comparator (tools/check_oracle.py)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleComparator:
    """Compares a collected Spark result with the query's DuckDB oracle
    over the generated input tables, the way tools/check_oracle.py does:
    column names, canonical Arrow types, row count and order-insensitive
    normalised values."""

    TABLES = ("documents", "embeddings", "lineitem")

    def __init__(self, tables_dir: str) -> None:
        import duckdb

        self.co = _oracle_module()
        self.con = duckdb.connect()
        for t in self.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'"
            )

    def oracle(self, sql: str):
        return self.con.execute(sql).fetch_arrow_table()

    def compare(self, spark_tbl, oracle_tbl) -> list[str]:
        co = self.co
        stbl = co._strip_spark_tz(spark_tbl)
        scols, ocols = stbl.schema.names, oracle_tbl.schema.names
        if sorted(scols) != sorted(ocols):
            return [f"columns differ: {sorted(scols)} vs {sorted(ocols)}"]
        st = {f.name: co.canon_type(f.type) for f in stbl.schema}
        ot = {f.name: co.canon_type(f.type) for f in oracle_tbl.schema}
        bad_types = {c: (st[c], ot[c]) for c in scols if st[c] != ot[c]}
        if bad_types:
            return [f"column types differ: {bad_types}"]
        srows = [tuple(r.values()) for r in stbl.to_pylist()]
        orows = [tuple(r.values()) for r in oracle_tbl.to_pylist()]
        if len(srows) != len(orows):
            return [f"row count {len(srows)} != oracle {len(orows)}"]
        if co.norm_rows(scols, srows) != co.norm_rows(ocols, orows):
            return ["values differ from the oracle"]
        return []

    def close(self) -> None:
        self.con.close()
