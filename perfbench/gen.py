"""Seeded input generators for the three benchmark workloads.

Each generator writes the files the program reads into `out_dir`, and
an `expected.json` holding what the outputs must be, computed here from
how the input was built (never from a run of the program). It also
asserts the properties it plants, so a generator bug fails here, before
any Spark job, instead of surfacing as an output mismatch.

Sizes are fixed constants: the seed changes the contents (ids, words,
which artist gets which fan-out), not the amount of work, so runs on
different seeds time the same job.
"""

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for",
             "with", "at", "by", "from", "it", "that", "this", "be", "are", "as")
NESTING_LIMIT = 1000


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _vocab(rng, n, lo=4, hi=9):
    """n distinct lowercase pseudo-words, none of them a stopword."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set(STOPWORDS)
    while len(out) < n:
        w = "".join(rng.choice(letters, rng.integers(lo, hi + 1)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


# --- denorm_json -----------------------------------------------------------

DENORM = dict(
    artists=10000,        # of which `silent` have no credit at all
    silent=500,
    collab_credits=1000,  # credits shared by two artists
    genders=3,            # ids 1..3 in `gender`; artists also use id 4
    areas=300,            # ids 1..areas in `area`; artists use up to areas+30
)


def _fanout(n):
    """Recordings per credit: a fixed heavy-tailed list (rank k gets
    2600/k^0.8 + 4), so the first few credits exceed the nesting limit
    and the total is the same for every seed."""
    k = np.arange(1, n + 1, dtype=np.float64)
    return (2600.0 / k ** 0.8).astype(np.int64) + 4


def gen_denorm(seed, out_dir):
    p = DENORM
    rng = _rng(seed, 1)
    words = _vocab(rng, 3000)

    word_ix = iter(rng.integers(0, len(words), 2_000_000).tolist())   # pre-drawn streams
    gids = iter(rng.integers(0, 2**62, 400_000).tolist())

    def name(k):
        return " ".join([words[next(word_ix)] for _ in range(k)])

    n_art = p["artists"]
    artist_ids = rng.permutation(np.arange(1, 10 * n_art))[:n_art]
    gender_of = rng.integers(1, p["genders"] + 2, n_art)      # 4 is absent
    gender_null = rng.random(n_art) < 0.05                      # groups
    area_of = rng.integers(1, p["areas"] + 31, n_art)           # >areas absent

    gender_names = {1: "male", 2: "female", 3: "other"}
    area_names = {i: f"area {name(2)} {i}" for i in range(1, p["areas"] + 1)}

    # credits: one solo credit per credited artist, plus two-artist collabs
    credited = artist_ids[: n_art - p["silent"]]
    n_solo = len(credited)
    n_credit = n_solo + p["collab_credits"]
    credit_ids = rng.permutation(np.arange(1, 5 * n_credit))[:n_credit]
    members = [[int(a)] for a in credited]
    for _ in range(p["collab_credits"]):
        a, b = rng.choice(n_solo, 2, replace=False)
        members.append([int(credited[a]), int(credited[b])])
    fan = _fanout(n_credit)[rng.permutation(n_credit)]

    gender_label = {}
    area_label = {}
    with open(os.path.join(out_dir, "artist.json"), "w") as f:
        for i, aid in enumerate(artist_ids):
            aid = int(aid)
            g = None if gender_null[i] else int(gender_of[i])
            ar = int(area_of[i])
            gender_label[aid] = None if g is None else gender_names.get(g, str(g))
            area_label[aid] = area_names.get(ar, str(ar))
            byear = "null" if i % 7 == 0 else str(1900 + i % 120)
            gtxt = "null" if g is None else str(g)
            nm = name(2)
            f.write(f'{{"id":{aid},"gid":"{next(gids):016x}",'
                    f'"name":"{nm}","sort_name":"{nm}","type":{1 + i % 2},'
                    f'"gender":{gtxt},"area":{ar},"begin_date_year":{byear},'
                    f'"comment":""}}\n')
    with open(os.path.join(out_dir, "gender.json"), "w") as f:
        for gid, gn in gender_names.items():
            f.write(f'{{"id":{gid},"name":"{gn}"}}\n')
    with open(os.path.join(out_dir, "area.json"), "w") as f:
        for aid, an in area_names.items():
            f.write(f'{{"id":{aid},"name":"{an}","type":1}}\n')

    per_artist = {int(a): 0 for a in artist_ids}
    len_by_gender = {}
    flat_rows = 0
    rec_id = 0
    rec_lines = []
    with open(os.path.join(out_dir, "artist_credit_name.json"), "w") as f:
        for c, ms in enumerate(members):
            cid = int(credit_ids[c])
            for pos, aid in enumerate(ms):
                jp = " feat. " if pos == 0 and len(ms) > 1 else ""
                f.write(f'{{"artist_credit":{cid},"position":{pos},"artist":{aid},'
                        f'"name":"{name(2)}","join_phrase":"{jp}"}}\n')
    rec_rows = rng.permutation(int(fan.sum()))  # shuffled file order
    credit_of_row = np.repeat(np.arange(n_credit), fan)[rec_rows]
    lengths = rng.integers(30_000, 600_000, len(credit_of_row))
    null_len = rng.random(len(credit_of_row)) < 0.02
    with open(os.path.join(out_dir, "recording.json"), "w") as f:
        for r, c in enumerate(credit_of_row):
            rec_id += 1
            ln = None if null_len[r] else int(lengths[r])
            for aid in members[c]:
                per_artist[aid] += 1
                flat_rows += 1
                if ln is not None:
                    lab = gender_label[aid]
                    len_by_gender[lab] = len_by_gender.get(lab, 0) + ln
            ltxt = "null" if ln is None else str(ln)
            rec_lines.append(
                f'{{"id":{rec_id},"gid":"{next(gids):016x}",'
                f'"name":"{name(3)}","artist_credit":{int(credit_ids[c])},'
                f'"length":{ltxt},"comment":"","video":false}}\n')
        f.writelines(rec_lines)

    nested_rows = {a: max(1, math.ceil(n / NESTING_LIMIT)) for a, n in per_artist.items()}
    flat_artists = [a for a, n in per_artist.items() if n > 0]
    # planted properties: the heavy tail crosses the nesting limit, and
    # both lookups take their fallback branch somewhere in the flat output
    assert max(per_artist.values()) > 2 * NESTING_LIMIT, "fan-out tail too light"
    assert any(gender_label[a] == "4" for a in flat_artists), "no gender fallback"
    assert any(area_label[a].isdigit() for a in flat_artists), "no area fallback"
    assert min(per_artist.values()) == 0, "no artist without recordings"
    _write_json({
        "flat_rows": flat_rows,
        "per_artist": {str(a): n for a, n in per_artist.items()},
        "nested_rows": {str(a): n for a, n in nested_rows.items()},
        "len_by_gender": {("null" if k is None else k): v for k, v in len_by_gender.items()},
        "gender_labels": sorted({("null" if gender_label[a] is None else gender_label[a])
                                 for a in flat_artists}),
        "area_labels": sorted({area_label[a] for a in flat_artists}),
        "nesting_limit": NESTING_LIMIT,
    }, os.path.join(out_dir, "expected.json"))


# --- corpus_dedup ----------------------------------------------------------

CORPUS = dict(
    clean=3000,      # singleton docs that survive
    clusters=240,    # each: a base (survives) + exact copies + near copies
    lowq=600,        # planted to fail the quality predicate
    min_words=100,
    max_words=260,
)
QUALITY = dict(min_words=20, max_words=2000, min_stop_ratio=0.1)
JACCARD_THRESHOLD = 0.8
PLANTED_JACCARD = 0.93


def quality_ok(text):
    """The program's quality predicate (CorpusAssembly.qualityFilter with
    its default Config), restated over whitespace-separated lowercase
    ASCII words, the only kind of text this generator writes."""
    toks = text.split()
    if not QUALITY["min_words"] <= len(toks) <= QUALITY["max_words"]:
        return False
    if sum(t in STOPWORDS for t in toks) / len(toks) < QUALITY["min_stop_ratio"]:
        return False
    g2 = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]
    return len(g2) == 0 or len(set(g2)) * 5 >= len(g2) * 2


def shingles(text, n=3):
    toks = text.split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def _clean_doc(rng, vocab, n_words):
    """Random vocabulary words with a stopword at every 5th position:
    the stopword ratio is 0.2 by construction (a random stopword draw
    can fall under the 0.1 floor and drop a doc that should survive)."""
    toks = [vocab[i] for i in rng.integers(0, len(vocab), n_words)]
    for i in range(2, n_words, 5):
        toks[i] = STOPWORDS[(i // 5) % 5]
    return toks


def _near_copy(rng, vocab, toks):
    """At most one substituted word per 100 words, never at a stopword
    position, so the copy keeps the base's quality verdict."""
    out = list(toks)
    subs = len(toks) // 100
    free = [i for i in range(len(toks)) if i % 5 != 2]
    for i in rng.choice(free, subs, replace=False):
        w = out[i]
        while w == out[i]:
            w = vocab[rng.integers(0, len(vocab))]
        out[i] = w
    return out


def _lowq_doc(rng, vocab, kind):
    if kind == 0:   # too short
        return _clean_doc(rng, vocab, int(rng.integers(5, 19)))
    if kind == 1:   # no stopwords at all
        return [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(100, 200)))]
    pair = [vocab[i] for i in rng.integers(0, len(vocab), 2)]   # repetitive
    return (pair + ["the"]) * int(rng.integers(40, 80))


def gen_corpus(seed, out_dir):
    p = CORPUS
    rng = _rng(seed, 2)
    vocab = _vocab(rng, 6000)

    def length():
        return int(rng.integers(p["min_words"], p["max_words"] + 1))

    docs = []          # (role, cluster, tokens)
    for _ in range(p["clean"]):
        docs.append(("clean", -1, _clean_doc(rng, vocab, length())))
    for c in range(p["clusters"]):
        base = _clean_doc(rng, vocab, length())
        docs.append(("base", c, base))
        for _ in range(1 + c % 2):
            docs.append(("exact", c, base))
        for _ in range(1 + c % 4):
            docs.append(("near", c, _near_copy(rng, vocab, base)))
    for i in range(p["lowq"]):
        docs.append(("lowq", -1, _lowq_doc(rng, vocab, i % 3)))

    ids = rng.permutation(np.arange(1, 4 * len(docs)))[:len(docs)].astype(np.int64)
    # the base holds the smallest id of its cluster (keep-first survivor)
    by_cluster = {}
    for i, (role, c, _) in enumerate(docs):
        if c >= 0:
            by_cluster.setdefault(c, []).append(i)
    for members in by_cluster.values():
        slot = min(members, key=lambda i: ids[i])
        ids[members[0]], ids[slot] = ids[slot], ids[members[0]]   # members[0] is the base

    texts = [" ".join(t) for _, _, t in docs]
    # planted properties
    for members in by_cluster.values():
        b = shingles(texts[members[0]])
        for i in members[1:]:
            assert ids[i] > ids[members[0]]
            j = jaccard(b, shingles(texts[i]))
            assert j >= PLANTED_JACCARD, f"near copy jaccard {j:.4f}"
    for (role, _, _), t in zip(docs, texts):
        assert quality_ok(t) == (role != "lowq"), f"{role} doc has the wrong quality verdict"
    _assert_no_stray_pairs(docs, texts, ids)

    order = rng.permutation(len(docs))
    table = pa.table({"doc_id": pa.array(ids[order], pa.int64()),
                      "text": pa.array([texts[i] for i in order], pa.string())})
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"))
    survivors = sorted(int(ids[i]) for i, (r, _, _) in enumerate(docs) if r in ("clean", "base"))
    _write_json({"survivors": survivors, "n_docs": len(docs),
                 "jaccard_threshold": JACCARD_THRESHOLD},
                os.path.join(out_dir, "expected.json"))


def _assert_no_stray_pairs(docs, texts, ids):
    """No two distinct quality-passing texts outside one planted cluster
    reach the dedup threshold, so the survivor set is decided by the
    planted clusters alone. Pairs are found through shared 3-shingles
    (an inverted index over 64-bit shingle hashes), then verified on the
    exact shingle sets."""
    uniq = {}
    for i, (role, c, _) in enumerate(docs):
        if role != "lowq":
            uniq.setdefault(texts[i], (i, c))
    entries = list(uniq.values())
    hs, owner = [], []
    for k, (i, _) in enumerate(entries):
        h = {hash(s) for s in shingles(texts[i])}
        hs.append(np.fromiter(h, np.int64, len(h)))
        owner.append(np.full(len(h), k, np.int64))
    hs, owner = np.concatenate(hs), np.concatenate(owner)
    o = np.argsort(hs, kind="stable")
    hs, owner = hs[o], owner[o]
    starts = np.flatnonzero(np.r_[True, hs[1:] != hs[:-1]])
    sizes = np.diff(np.r_[starts, len(hs)])
    pair_keys = []
    for g in np.unique(sizes[sizes > 1]):
        st = starts[sizes == g]
        for a in range(g):
            for b in range(a + 1, g):
                x, y = owner[st + a], owner[st + b]
                pair_keys.append(np.minimum(x, y) * len(entries) + np.maximum(x, y))
    if not pair_keys:
        return
    keys, shared = np.unique(np.concatenate(pair_keys), return_counts=True)
    sets = {}
    for key, n in zip(keys, shared):
        a, b = divmod(int(key), len(entries))
        (ia, ca), (ib, cb) = entries[a], entries[b]
        if ca >= 0 and ca == cb:
            continue
        na = sets.setdefault(a, shingles(texts[ia]))
        nb = sets.setdefault(b, shingles(texts[ib]))
        if n / (len(na) + len(nb) - n) < JACCARD_THRESHOLD - 0.05:
            continue
        j = jaccard(na, nb)
        assert j < JACCARD_THRESHOLD, f"stray near-dup pair {ids[ia]},{ids[ib]} jaccard {j:.3f}"


# --- cdc_merge -------------------------------------------------------------

CDC = dict(
    rows=100_000,
    files=4,
    key_space=4_000_000,
    # one entry per mutation call, applied in this order
    calls=[
        ("applyCdc", dict(upd=3000, ins=1000, dele=800, absent=200)),
        ("upsertVersioned", dict(newer=2500, older=1500, ins=600)),
        ("applyCdc", dict(upd=3000, ins=1000, dele=800, absent=200)),
        ("upsertVersioned", dict(newer=2000, older=2000, ins=600)),
        ("deleteKeys", dict(dele=300, absent=60)),
        ("compact", {}),
    ],
)
CDC_SCHEMA = pa.schema([("id", pa.int64()), ("payload", pa.string()),
                        ("amount", pa.int64()), ("ver", pa.int64())])


class TableModel(dict):
    """key -> (payload, amount, ver), with order-free aggregates kept
    exact (Python ints) as rows come and go."""

    def __init__(self):
        super().__init__()
        self.sums = [0, 0, 0, 0]   # id, amount, ver, payload length

    def _add(self, k, v, sign):
        for i, x in enumerate((k, v[1], v[2], len(v[0]))):
            self.sums[i] += sign * x

    def __setitem__(self, k, v):
        self.pop(k, None)
        self._add(k, v, 1)
        super().__setitem__(k, v)

    def pop(self, k, default=None):
        if k in self:
            self._add(k, self[k], -1)
        return super().pop(k, default)

    def load(self, items):
        for k, v in items:
            super().__setitem__(k, v)
        self.sums = [sum(self), sum(v[1] for v in self.values()),
                     sum(v[2] for v in self.values()), sum(len(v[0]) for v in self.values())]

    def digest(self):
        n = len(self)
        return {"rows": n, "distinct_ids": n, "sum_id": self.sums[0],
                "sum_amount": self.sums[1], "sum_ver": self.sums[2],
                "sum_payload_len": self.sums[3]}


def _rows_table(rows, with_op=False):
    cols = {"id": [r[0] for r in rows], "payload": [r[1] for r in rows],
            "amount": [r[2] for r in rows], "ver": [r[3] for r in rows]}
    schema = CDC_SCHEMA
    if with_op:
        cols["_op"] = [r[4] for r in rows]
        schema = schema.append(pa.field("_op", pa.string()))
    return pa.table(cols, schema=schema)


def gen_cdc(seed, out_dir):
    """The initial table, one input file per mutation call, and a pure
    Python model of the table after every call."""
    p = CDC
    rng = _rng(seed, 3)
    # scalar draws come from pre-drawn streams (one numpy call each)
    n_draw = 2 * p["rows"]
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", np.uint8)
    chars = alphabet[rng.integers(0, len(alphabet), 40 * n_draw)].tobytes().decode()
    lens = iter(rng.integers(16, 40, n_draw).tolist())
    amounts = iter(rng.integers(0, 10**9, n_draw).tolist())
    steps = iter(rng.integers(1, 5, n_draw).tolist())
    cursor = [0, 1000]   # payload offset, last version

    def payload():
        c, k = cursor[0], next(lens)
        cursor[0] = c + k
        return chars[c:c + k]

    def amount():
        return next(amounts)

    def next_ver():
        cursor[1] += next(steps)
        return cursor[1]

    keys = rng.permutation(np.arange(1, p["key_space"]))[:p["rows"]]
    model = TableModel()
    model.load((int(k), (payload(), amount(), next_ver())) for k in keys)
    init_dir = os.path.join(out_dir, "initial")
    os.makedirs(init_dir)
    items = list(model.items())
    per = math.ceil(len(items) / p["files"])
    for f in range(p["files"]):
        chunk = items[f * per:(f + 1) * per]
        pq.write_table(_rows_table([(k, *v) for k, v in chunk]),
                       os.path.join(init_dir, f"part-{f:05d}.parquet"))

    def pick_existing(n):
        pool = np.fromiter(model.keys(), np.int64, len(model))
        return rng.choice(pool, n, replace=False).tolist()

    def fresh(n, taken):
        out = []
        while len(out) < n:
            k = int(rng.integers(1, p["key_space"]))
            if k not in model and k not in taken:
                taken.add(k)
                out.append(k)
        return out

    states, calls = [], []
    for i, (kind, q) in enumerate(p["calls"]):
        taken = set()
        call = {"kind": kind, "file": None}
        if kind == "applyCdc":
            upd = pick_existing(q["upd"] + q["dele"])
            ups, dels = upd[:q["upd"]] + fresh(q["ins"], taken), upd[q["upd"]:] + fresh(q["absent"], taken)
            rows = [(k, payload(), amount(), next_ver(), "U") for k in ups]
            rows += [(k, payload(), 0, next_ver(), "D") for k in dels]
            rows = [rows[j] for j in rng.permutation(len(rows))]
            for k, pl, am, v, op in rows:
                if op == "U":
                    model[k] = (pl, am, v)
                else:
                    model.pop(k, None)
            call["file"] = f"call{i}.parquet"
            pq.write_table(_rows_table(rows, with_op=True), os.path.join(out_dir, call["file"]))
        elif kind == "upsertVersioned":
            ex = pick_existing(q["newer"] + q["older"])
            rows = []
            for j, k in enumerate(ex):
                cur = model[k][2]
                # an older version arrives late: it must lose to the row it follows
                v = next_ver() if j < q["newer"] else cur - int(rng.integers(1, 500))
                rows.append((k, payload(), amount(), v))
            rows += [(k, payload(), amount(), next_ver())
                     for k in fresh(q["ins"], taken)]
            rows = [rows[j] for j in rng.permutation(len(rows))]
            for k, pl, am, v in rows:
                if k not in model or v > model[k][2]:
                    model[k] = (pl, am, v)
            call["file"] = f"call{i}.parquet"
            pq.write_table(_rows_table(rows), os.path.join(out_dir, call["file"]))
        elif kind == "deleteKeys":
            ks = pick_existing(q["dele"]) + fresh(q["absent"], taken)
            for k in ks:
                model.pop(k, None)
            call["keys"] = sorted(ks)
        calls.append(call)
        states.append(model.digest())

    final = sorted((k, *v) for k, v in model.items())
    pq.write_table(_rows_table(final), os.path.join(out_dir, "expected_final.parquet"))
    with open(os.path.join(out_dir, "calls.txt"), "w") as f:
        for c in calls:
            arg = ",".join(map(str, c["keys"])) if "keys" in c else (c["file"] or "-")
            f.write(f"{c['kind']} {arg}\n")
    _write_json({"calls": [c["kind"] for c in calls], "states": states},
                os.path.join(out_dir, "expected.json"))


GENERATORS = {"denorm_json": gen_denorm, "corpus_dedup": gen_corpus, "cdc_merge": gen_cdc}


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    GENERATORS[workload](seed, out_dir)


if __name__ == "__main__":
    import sys
    import time
    t = time.time()
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(f"{sys.argv[1]} seed {sys.argv[2]}: {time.time() - t:.2f}s", file=sys.stderr)
