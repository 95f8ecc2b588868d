"""Output checks, independent of the package: DuckDB recomputations over the
parquet the benchmark wrote, and exact set arithmetic in Python.

Every check returns a :class:`Check`; ``ok`` is False on any mismatch and
``detail`` says what differed. Nothing here imports Spark, so the checks
can be tested against planted faults without a session.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

import duckdb


@dataclass
class Check:
    name: str
    ok: bool = True
    detail: list[str] = field(default_factory=list)
    values: dict = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.ok = False
        self.detail.append(msg)


def _glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def _connect(tmp_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if tmp_dir:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


#: per-host admission over a deduplicated, unseen frontier: the first row per
#: canonical URL by (priority, discovery_time, url), minus the seen set, then
#: the first ``budget`` rows per host in the same order
_ADMISSION_SQL = """
WITH f AS ({frontier}),
d AS (
  SELECT * FROM f
  QUALIFY row_number() OVER (PARTITION BY canonical_url
                             ORDER BY priority, discovery_time, url) = 1),
u AS (
  SELECT d.* FROM d ANTI JOIN ({seen}) s USING (canonical_url))
SELECT url, host, canonical_url, bucket, key, size,
       row_number() OVER (PARTITION BY host
                          ORDER BY priority, discovery_time, url) AS host_rank
FROM u
QUALIFY host_rank <= {budget}
"""


def _diff(con, left: str, right: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM (({left}) EXCEPT ({right}))").fetchone()[0]


# ---------------------------------------------------------------------------
# crawl_rounds: committed snapshot tables
# ---------------------------------------------------------------------------

def _manifest(warehouse: str, table: str) -> dict:
    path = os.path.join(warehouse, table, "manifest.json")
    if not os.path.exists(path):
        return {"current": None, "snapshots": []}
    with open(path) as fh:
        return json.load(fh)


def _snap(manifest: dict, snapshot_id: int | None) -> dict:
    sid = manifest["current"] if snapshot_id is None else snapshot_id
    for s in manifest["snapshots"]:
        if s["snapshot_id"] == sid:
            return s
    raise KeyError(f"no snapshot {sid}")


def _files(warehouse: str, table: str, dirs: list[str]) -> str:
    paths = [os.path.join(warehouse, table, d, "*.parquet") for d in dirs]
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def check_crawl(warehouse: str, store_keys: str, summaries: list[dict],
                budget: int, max_size: int,
                tmp_dir: str | None = None) -> Check:
    """Each committed round's admission equals a recomputation from the
    committed frontier and seen tables; no URL is admitted twice; the
    committed seen set is the union of the admissions; stored and failed
    counts equal fetch misses plus the size guard.

    ``store_keys``: parquet of the (bucket, key) pairs the object store
    holds. ``summaries``: per-round counts the driver reported.
    """
    chk = Check("crawl_commit")
    con = _connect(tmp_dir)
    try:
        ledger_m = _manifest(warehouse, "rounds")
        if ledger_m["current"] is None:
            chk.fail("no committed rounds")
            return chk
        ledger_files = _files(warehouse, "rounds",
                              _snap(ledger_m, None)["data_dirs"])
        ledger = con.execute(
            "SELECT round, seen_snapshot, admitted, stored, failed, discarded "
            f"FROM read_parquet({ledger_files}) ORDER BY round").fetchall()
        seen_m = _manifest(warehouse, "seen")
        front_files = _files(warehouse, "frontier",
                             _snap(_manifest(warehouse, "frontier"),
                                   None)["data_dirs"])
        frontier = (f"SELECT * FROM read_parquet({front_files}, "
                    "union_by_name = true)")
        seen_dirs: list[str] = []
        by_round = {s["round_id"]: s for s in summaries}
        if sorted(by_round) != [r[0] for r in ledger]:
            chk.fail(f"ledger rounds {[r[0] for r in ledger]} != driver "
                     f"rounds {sorted(by_round)}")
        con.execute("CREATE TEMP TABLE store AS SELECT bucket, key FROM "
                    f"read_parquet('{store_keys}')")
        totals = dict(admitted=0, stored=0, failed=0, misses=0, oversize=0)
        for rnd, seen_snap, l_adm, l_sto, l_fail, l_disc in ledger:
            seen_before = (
                "SELECT DISTINCT canonical_url FROM "
                f"read_parquet({_files(warehouse, 'seen', seen_dirs)})"
                if seen_dirs else
                "SELECT NULL::VARCHAR AS canonical_url WHERE false")
            expected = _ADMISSION_SQL.format(
                frontier=(f"SELECT * FROM ({frontier}) "
                          f"WHERE coalesce(round, 0) <= {int(rnd)}"),
                seen=seen_before, budget=int(budget))
            con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {expected}")
            delta = _snap(seen_m, seen_snap)["delta_dir"]
            got = ("SELECT canonical_url FROM read_parquet("
                   f"{_files(warehouse, 'seen', [delta])})")
            exp = "SELECT canonical_url FROM exp"
            missing, extra = _diff(con, exp, got), _diff(con, got, exp)
            n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
            misses, oversize = con.execute(
                "SELECT count(*) FILTER (WHERE s.key IS NULL), "
                f"count(*) FILTER (WHERE s.key IS NOT NULL "
                f"AND e.size > {int(max_size)}) "
                "FROM exp e LEFT JOIN store s USING (bucket, key)").fetchone()
            summ = by_round.get(rnd, {})
            if missing or extra:
                chk.fail(f"round {rnd}: committed admission differs from "
                         f"recomputation ({missing} missing, {extra} extra)")
            if not (summ.get("admitted") == l_adm == n_exp):
                chk.fail(f"round {rnd}: admitted driver="
                         f"{summ.get('admitted')} ledger={l_adm} "
                         f"recomputed={n_exp}")
            want_failed = misses + oversize
            if not (summ.get("failed") == l_fail == want_failed):
                chk.fail(f"round {rnd}: failed driver={summ.get('failed')} "
                         f"ledger={l_fail}, misses+size guard={want_failed}")
            if not (summ.get("stored") == l_sto == n_exp - want_failed):
                chk.fail(f"round {rnd}: stored driver={summ.get('stored')} "
                         f"ledger={l_sto}, expected {n_exp - want_failed}")
            if l_disc:
                chk.fail(f"round {rnd}: {l_disc} unexpected discards")
            totals["admitted"] += n_exp
            totals["stored"] += n_exp - want_failed
            totals["failed"] += want_failed
            totals["misses"] += misses
            totals["oversize"] += oversize
            seen_dirs.append(delta)
        all_seen = ("SELECT canonical_url FROM read_parquet("
                    f"{_files(warehouse, 'seen', seen_dirs)})")
        n_seen, n_distinct = con.execute(
            f"SELECT count(*), count(DISTINCT canonical_url) FROM ({all_seen})"
        ).fetchone()
        if n_seen != n_distinct:
            chk.fail(f"{n_seen - n_distinct} URLs admitted more than once")
        if n_seen != totals["admitted"]:
            chk.fail(f"committed seen set has {n_seen} URLs, admissions "
                     f"total {totals['admitted']}")
    finally:
        con.close()
    chk.values.update(totals)
    return chk


# ---------------------------------------------------------------------------
# train_corpus: dedup pairs and export
# ---------------------------------------------------------------------------

def shingle_set(text: str, n: int = 5) -> set[str]:
    """Distinct word ``n``-grams of the normalized text (lower-cased,
    trimmed, whitespace runs collapsed); a text shorter than ``n`` words
    is one shingle."""
    words = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    count = max(len(words) - (n - 1), 1)
    return {" ".join(words[i:i + n]) for i in range(count)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def check_pairs(pairs: list[tuple[str, str]], texts: dict[str, str],
                threshold: float, planted: set[tuple[str, str]],
                n: int = 5) -> Check:
    """Every reported pair has exact shingle Jaccard >= ``threshold`` (less
    half a unit of the 6th decimal, the precision the pipeline rounds
    to) and appears once; reports recall of the planted near-duplicate
    pairs whose exact Jaccard reaches the threshold."""
    chk = Check("dedup_pairs")
    tol = 5e-7
    sets: dict[str, set[str]] = {}

    def shingles(doc: str) -> set[str]:
        if doc not in sets:
            sets[doc] = shingle_set(texts[doc], n)
        return sets[doc]

    seen_pairs = set()
    for a, b in pairs:
        key = (min(a, b), max(a, b))
        if key in seen_pairs or a == b:
            chk.fail(f"pair {a},{b} reported twice or self-paired")
        seen_pairs.add(key)
        if a not in texts or b not in texts:
            chk.fail(f"pair {a},{b} names an unknown document")
            continue
        j = jaccard(shingles(a), shingles(b))
        if j < threshold - tol:
            chk.fail(f"pair {a},{b} has exact Jaccard {j:.6f} < {threshold}")
    reachable = {p for p in planted if p[0] in texts and p[1] in texts
                 and jaccard(shingles(p[0]), shingles(p[1])) >= threshold}
    found = len(reachable & seen_pairs)
    chk.values.update(pairs=len(seen_pairs), planted=len(reachable),
                      planted_found=found,
                      planted_recall=found / len(reachable) if reachable
                      else 1.0)
    return chk


def check_export(verify: dict, manifest: dict, packed_rows: int) -> Check:
    """The export re-verifies against its manifest and the manifest total
    equals the packed row count."""
    chk = Check("export")
    if not verify.get("ok"):
        chk.fail(f"verify_training_shards: {verify}")
    if manifest.get("total_rows") != packed_rows:
        chk.fail(f"manifest total {manifest.get('total_rows')} != packed "
                 f"rows {packed_rows}")
    chk.values.update(rows=packed_rows)
    return chk
