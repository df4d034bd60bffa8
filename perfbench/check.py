"""Output checks, run outside Spark: DuckDB reads the parquet the program
wrote and each check compares it with what the generator computed from
how it built the input, or with a property the method must have.

Each check is a function (expected, out_dir) that raises AssertionError.
`CHECKS[workload]` lists them by name, so `selftest.py` can show that
each one fails on a corrupted copy of a real output.
"""

import glob
import os

import duckdb


def _files(d):
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _scan(d):
    fs = _files(d)
    assert fs, f"no parquet files under {d}"
    return "read_parquet([" + ",".join(f"'{f}'" for f in fs) + "])"


_con = duckdb.connect()


def _q(sql):
    return _con.sql(sql).fetchall()


# --- denorm_json -----------------------------------------------------------

def denorm_flat_rows(exp, out):
    n = _q(f"select count(*) from {_scan(out + '/flat')}")[0][0]
    assert n == exp["flat_rows"], f"flat rows {n} != {exp['flat_rows']}"


def denorm_per_artist(exp, out):
    got = dict(_q(f"select artist_id, count(*) from {_scan(out + '/flat')} group by 1"))
    want = {int(a): n for a, n in exp["per_artist"].items() if n > 0}
    bad = [a for a in set(got) | set(want) if got.get(a) != want.get(a)]
    assert not bad, f"{len(bad)} artists with wrong flat counts, e.g. {bad[:3]}"


def denorm_len_by_gender(exp, out):
    rows = _q(f"select artist_gender, sum(recording_length) from {_scan(out + '/flat')} "
              "group by 1 having count(recording_length) > 0")
    got = {("null" if k is None else k): int(v) for k, v in rows}
    assert got == exp["len_by_gender"], f"length sums by gender {got} != {exp['len_by_gender']}"


def denorm_labels(exp, out):
    scan = _scan(out + "/flat")
    g = sorted("null" if r[0] is None else r[0] for r in _q(f"select distinct artist_gender from {scan}"))
    a = sorted(r[0] for r in _q(f"select distinct artist_area from {scan}"))
    assert g == exp["gender_labels"], f"gender labels {g} != {exp['gender_labels']}"
    assert a == exp["area_labels"], "area labels differ (lookup or id-string fallback wrong)"


def denorm_nested_total(exp, out):
    """Two totals reached by independent paths: the nested array sizes
    and the flat row count."""
    nested = _q(f"select sum(len(recordings)) from {_scan(out + '/nested')}")[0][0]
    flat = _q(f"select count(*) from {_scan(out + '/flat')}")[0][0]
    assert nested == flat, f"nested elements {nested} != flat rows {flat}"


def denorm_nested_limit(exp, out):
    mx = _q(f"select max(len(recordings)) from {_scan(out + '/nested')}")[0][0]
    assert mx <= exp["nesting_limit"], f"nested array of {mx} > {exp['nesting_limit']}"


def denorm_nested_rows(exp, out):
    got = {a: (r, s) for a, r, s in _q(
        f"select artist_id, count(*), sum(len(recordings)) from {_scan(out + '/nested')} group by 1")}
    want = {int(a): (n, exp["per_artist"][a]) for a, n in exp["nested_rows"].items()}
    bad = [a for a in set(got) | set(want) if got.get(a) != want.get(a)]
    assert not bad, f"{len(bad)} artists with wrong nested rows or sizes, e.g. {bad[:3]}"


# --- corpus_dedup ----------------------------------------------------------

def corpus_survivors(exp, out):
    ids = [r[0] for r in _q(f"select doc_id from {_scan(out + '/kept')} order by 1")]
    assert len(ids) == len(set(ids)), "a surviving doc id appears twice"
    want = exp["survivors"]
    assert ids == want, (f"survivors differ: {len(set(ids) - set(want))} unexpected, "
                         f"{len(set(want) - set(ids))} missing")


# --- cdc_merge -------------------------------------------------------------

def _digest(d):
    r = _q("select count(*), count(distinct id), sum(id), sum(amount), sum(ver), "
           f"sum(length(payload)) from {_scan(d)}")[0]
    keys = ("rows", "distinct_ids", "sum_id", "sum_amount", "sum_ver", "sum_payload_len")
    return {k: int(v or 0) for k, v in zip(keys, r)}


def _same_rows(a, b):
    """Exact row-multiset equality of two parquet scans."""
    cols = "id, payload, amount, ver"

    def extra(x, y):
        return _q(f"select count(*) from (select {cols} from {x} except all "
                  f"select {cols} from {y})")[0][0]
    return extra(a, b) == 0 and extra(b, a) == 0


def cdc_states(exp, out):
    """After every call: row count, no duplicate key, exact integer sums."""
    for i, want in enumerate(exp["states"]):
        got = _digest(os.path.join(out, "states", str(i)))
        assert got["rows"] == got["distinct_ids"], f"duplicate keys after call {i}"
        assert got == want, f"table after call {i} ({exp['calls'][i]}) {got} != model {want}"


def cdc_final(exp, out):
    model = f"read_parquet('{exp['_dir']}/expected_final.parquet')"
    for d in (os.path.join(out, "states", str(len(exp["states"]) - 1)), os.path.join(out, "table")):
        assert _same_rows(_scan(d), model), f"{d} differs from the model's final table"


def cdc_compact(exp, out):
    """compact leaves the row multiset unchanged and the file count no higher."""
    before = os.path.join(out, "states", str(len(exp["states"]) - 2))
    after = os.path.join(out, "states", str(len(exp["states"]) - 1))
    assert _same_rows(_scan(before), _scan(after)), "compact changed the rows"
    nb, na = len(_files(before)), len(_files(after))
    assert na <= nb, f"compact raised the file count {nb} -> {na}"


CHECKS = {
    "denorm_json": [denorm_flat_rows, denorm_per_artist, denorm_len_by_gender, denorm_labels,
                    denorm_nested_total, denorm_nested_limit, denorm_nested_rows],
    "corpus_dedup": [corpus_survivors],
    "cdc_merge": [cdc_states, cdc_final, cdc_compact],
}


def run_checks(workload, exp, out):
    """Names of the checks that failed, with their messages."""
    failed = []
    for check in CHECKS[workload]:
        try:
            check(exp, out)
        except AssertionError as e:
            failed.append(f"{check.__name__}: {e}")
    return failed
