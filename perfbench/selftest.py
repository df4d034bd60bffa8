#!/usr/bin/env python3
"""Shows that every output check can fail: runs each workload once,
then corrupts copies of its real output, one defect per copy, and
requires the targeted check to fail on the copy while every check passes
on the untouched output.

    python3 perfbench/selftest.py [--seed 1]

Run from the repository root; exits non-zero if a corruption goes
unnoticed.
"""

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402


def _parts(d):
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _edit(d, fn):
    """Rewrite the first non-empty part file of `d` as fn(rows), rows
    being a list of dicts."""
    f = next(p for p in _parts(d) if pq.ParquetFile(p).metadata.num_rows > 0)
    t = pq.read_table(f)
    pq.write_table(pa.Table.from_pylist(fn(t.to_pylist()), schema=t.schema), f)


def _set(rows, i, **kv):
    rows[i] = {**rows[i], **kv}
    return rows


def _first(rows, pred):
    return next(i for i, r in enumerate(rows) if pred(r))


# --- corruptions: (name, target check, fn(out_dir)) -------------------------

def _flat_reassign(out):
    def fn(rows):
        other = rows[_first(rows, lambda r: r["artist_id"] != rows[0]["artist_id"])]["artist_id"]
        return _set(rows, 0, artist_id=other)
    _edit(out + "/flat", fn)


def _flat_longer(out):
    def fn(rows):
        i = _first(rows, lambda r: r["recording_length"] is not None)
        return _set(rows, i, recording_length=rows[i]["recording_length"] + 1)
    _edit(out + "/flat", fn)


def _nested_drop(out):
    def fn(rows):
        i = _first(rows, lambda r: len(r["recordings"]) >= 2)
        return _set(rows, i, recordings=rows[i]["recordings"][1:])
    _edit(out + "/nested", fn)


def _nested_split(out):
    def fn(rows):
        i = _first(rows, lambda r: len(r["recordings"]) >= 2)
        a = rows[i]["recordings"]
        rows[i] = {**rows[i], "recordings": a[:1]}
        return rows + [{**rows[i], "recordings": a[1:]}]
    _edit(out + "/nested", fn)


def _nested_merge(out):
    """Put the chunks of the biggest artist back into one row."""
    t = pa.concat_tables(pq.read_table(f) for f in _parts(out + "/nested"))
    rows = t.to_pylist()
    top = max({r["artist_id"] for r in rows},
              key=lambda a: sum(r["artist_id"] == a for r in rows))
    mine = [r for r in rows if r["artist_id"] == top]
    merged = {**mine[0], "recordings": [x for r in mine for x in r["recordings"]]}
    for f in _parts(out + "/nested"):
        os.remove(f)
    keep = [r for r in rows if r["artist_id"] != top] + [merged]
    pq.write_table(pa.Table.from_pylist(keep, schema=t.schema), out + "/nested/part-0.parquet")


def _state(out, back):
    """The table as saved after the last call (back=0) or an earlier one."""
    n = len(glob.glob(os.path.join(out, "states", "*")))
    return os.path.join(out, "states", str(n - 1 - back))


def _split_files(d):
    """Same rows, spread over more files."""
    t = pa.concat_tables(pq.read_table(f) for f in _parts(d))
    for f in _parts(d):
        os.remove(f)
    step = max(1, t.num_rows // 8)
    for i in range(0, t.num_rows, step):
        pq.write_table(t.slice(i, step), f"{d}/part-{i:08d}.parquet")


# workload -> [(corruption, the check that must catch it, fn(out_dir))]
CORRUPTIONS = {
    "denorm_json": [
        ("drop a flat row", "denorm_flat_rows", lambda o: _edit(o + "/flat", lambda r: r[1:])),
        ("move a flat row to another artist", "denorm_per_artist", _flat_reassign),
        ("add 1 ms to a recording length", "denorm_len_by_gender", _flat_longer),
        ("relabel an area", "denorm_labels", lambda o: _edit(
            o + "/flat", lambda r: _set(r, 0, artist_area="no such area"))),
        ("drop a nested element", "denorm_nested_total", _nested_drop),
        ("merge an artist's chunks past the limit", "denorm_nested_limit", _nested_merge),
        ("split a nested row in two", "denorm_nested_rows", _nested_split),
    ],
    "corpus_dedup": [
        ("drop a survivor", "corpus_survivors", lambda o: _edit(o + "/kept", lambda r: r[1:])),
        ("duplicate a survivor", "corpus_survivors", lambda o: _edit(o + "/kept", lambda r: r + r[:1])),
    ],
    "cdc_merge": [
        ("change an amount after call 2", "cdc_states", lambda o: _edit(
            os.path.join(o, "states", "2"), lambda r: _set(r, 0, amount=r[0]["amount"] + 1))),
        ("duplicate a key after call 1", "cdc_states", lambda o: _edit(
            os.path.join(o, "states", "1"), lambda r: r + [{**r[0], "payload": "dup"}])),
        ("change a payload in the final table", "cdc_final", lambda o: _edit(
            o + "/table", lambda r: _set(r, 0, payload=r[0]["payload"] + "x"))),
        ("split the compacted table into more files", "cdc_compact",
         lambda o: _split_files(_state(o, 0))),
        ("change a row before compact", "cdc_compact", lambda o: _edit(
            _state(o, 1), lambda r: _set(r, 0, ver=r[0]["ver"] + 1))),
    ],
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    data = os.path.join(os.getcwd(), ".bench_data")
    missed = 0
    for w, cases in CORRUPTIONS.items():
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", str(a.seed), "--seconds", "1", "--trace", "0"],
                       check=True, stdout=subprocess.DEVNULL)
        in_dir = os.path.join(data, "inputs", w, f"seed-{a.seed}")
        with open(os.path.join(in_dir, "expected.json")) as f:
            exp = {**json.load(f), "_dir": in_dir}
        real = os.path.join(data, "runs", w)
        clean = check.run_checks(w, exp, real)
        print(f"{w}: real output, {len(clean)} checks failed")
        missed += len(clean)
        for name, target, corrupt in cases:
            copy = os.path.join(data, "selftest", w)
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(real, copy)
            corrupt(copy)
            failed = [m.split(":")[0] for m in check.run_checks(w, exp, copy)]
            ok = target in failed
            missed += not ok
            print(f"{w}: {name}: {'caught' if ok else 'MISSED'} by {target}"
                  f" (failing: {', '.join(failed) or 'none'})")
    sys.exit(1 if missed else 0)


if __name__ == "__main__":
    main()
