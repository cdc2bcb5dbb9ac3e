"""Seeded input generators and the pure-Python reference results the
benchmark checks the program's outputs against.

Everything here is deterministic in its seed and touches no Spark: the
program under test only ever sees the files these functions write.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DAY_S = 86_400
EPOCH0 = 1_700_006_400  # 2023-11-15T00:00:00Z, a day boundary


# --------------------------------------------------------------------
# etl_chain: daily CSV batches
# --------------------------------------------------------------------

def day_ts_range(day: int) -> tuple[int, int]:
    """[lo, hi) epoch seconds of one daily batch; days are disjoint so
    the manifest zone maps of a chain can skip whole datasets."""
    lo = EPOCH0 + day * DAY_S
    return lo, lo + DAY_S


def write_daily_csvs(out_dir: str, seed: int, days: int, rows: int,
                     users: int = 5_000) -> dict:
    """Write ``days`` CSV files of ``rows`` events each and return the
    expected totals: per-user (rows, cents) over the whole chain and
    per-day (rows, cents) for range checks.

    User ids are Zipf-like skewed (a few heavy users, a long tail);
    amounts are whole cents so the totals are exact integers."""
    rng = random.Random(seed)
    # skew: weight of user u is 1 / (u + 1) ** 1.1
    weights = [1.0 / (u + 1) ** 1.1 for u in range(users)]
    os.makedirs(out_dir, exist_ok=True)
    per_user: dict[int, list[int]] = {}
    per_day: list[tuple[int, int]] = []
    files = []
    for d in range(days):
        lo, _ = day_ts_range(d)
        uids = rng.choices(range(users), weights=weights, k=rows)
        n_cents = 0
        lines = ["user_id,ts,amount"]
        for uid in uids:
            cents = rng.randrange(1, 100_000)
            ts = lo + rng.randrange(DAY_S)
            lines.append(f"{uid},{ts},{cents // 100}.{cents % 100:02d}")
            acc = per_user.setdefault(uid, [0, 0])
            acc[0] += 1
            acc[1] += cents
            n_cents += cents
        path = os.path.join(out_dir, f"day{d:03d}.csv")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        files.append(path)
        per_day.append((rows, n_cents))
    return {"files": files, "per_user": per_user, "per_day": per_day,
            "bytes": sum(os.path.getsize(p) for p in files)}


# --------------------------------------------------------------------
# dedup_stream: corpus with planted near-duplicate families
# --------------------------------------------------------------------

def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _mutate(rng: random.Random, words: list[str], vocab: list[str],
            edits: int) -> list[str]:
    out = list(words)
    for _ in range(edits):
        i = rng.randrange(len(out))
        if rng.random() < 0.5 and len(out) > 10:
            del out[i]
        else:
            out[i] = rng.choice(vocab)
    return out


def make_corpus(seed: int, files: int, docs_per_file: int,
                dup_share: float = 0.2
                ) -> tuple[list[list[tuple[int, str]]], set[int]]:
    """Batches of (doc_id, text). About ``dup_share`` of the documents
    are planted copies of an earlier-arriving original (1 to 3 word
    edits); a copy always lands in a strictly later batch than its
    original, so "planted copy" and "arrived after a family member"
    coincide. Returns the batches in arrival order and the copy ids."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 4_000)
    total = files * docs_per_file
    n_copies = int(total * dup_share)
    n_unique = total - n_copies
    batches: list[list[tuple[int, str]]] = [[] for _ in range(files)]
    ids = rng.sample(range(1, 10 * total), total)
    uniques = []
    for k in range(n_unique):
        words = [rng.choice(vocab) for _ in range(rng.randint(40, 90))]
        b = rng.randrange(files)
        uniques.append((words, b))
        batches[b].append((ids[k], " ".join(words)))
    # originals can only come from batches that have a later batch
    origins = [u for u in uniques if u[1] < files - 1]
    for k in range(n_copies):
        words, b = rng.choice(origins)
        later = rng.randrange(b + 1, files)
        copy = _mutate(rng, words, vocab, rng.randint(1, 3))
        batches[later].append((ids[n_unique + k], " ".join(copy)))
    # shuffle arrival order inside each batch
    for bt in batches:
        rng.shuffle(bt)
    return batches, set(ids[n_unique:])


def write_corpus(out_dir: str, batches: list[list[tuple[int, str]]]) -> int:
    """One parquet file per batch, named so the file source picks them
    up in arrival order. Returns the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    size = 0
    for i, bt in enumerate(batches):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        table = pa.table({"doc_id": pa.array([d for d, _ in bt], pa.int64()),
                          "text": pa.array([t for _, t in bt], pa.string())})
        pq.write_table(table, path)
        size += os.path.getsize(path)
    return size


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.strip().split()
    length = max(len(toks) - (n - 1), 1)
    return {" ".join(t for t in toks[i:i + n]) for i in range(length)}


def _band_keys(sh: set[str], num_hashes: int = 8,
               bands: int = 4) -> list[str]:
    """The md5 MinHash band keys of operators.dedup.text_band_rows:
    two md5 digests per shingle (suffix ':0'/':1'), each sliced into
    four 32-bit windows, min over shingles, ``r`` mins joined by '_'."""
    digests = [[hashlib.md5(f"{g}:{d}".encode()).hexdigest()
                for d in range((num_hashes + 3) // 4)] for g in sh]
    sig = [min(int(dg[i // 4][8 * (i % 4):8 * (i % 4) + 8], 16)
               for dg in digests) for i in range(num_hashes)]
    r = num_hashes // bands
    return [f"{b}:" + "_".join(str(sig[b * r + j]) for j in range(r))
            for b in range(bands)]


def expected_kept(batches: list[list[tuple[int, str]]],
                  threshold: float = 0.5) -> list[set[int]]:
    """Replay the rolling text near-dedup semantics in pure Python:
    per batch, (a) drop a document sharing an LSH band bucket with an
    already-kept document at word-3-shingle Jaccard >= threshold; then
    (b) among the rest, connect same-bucket pairs at Jaccard >=
    threshold and keep the minimum id of each component. Returns the
    kept ids per batch."""
    buckets: dict[str, list[int]] = {}  # band key -> kept ids
    shingles: dict[int, set[str]] = {}
    out = []

    def jac(a: set[str], b: set[str]) -> float:
        return len(a & b) / len(a | b)

    for bt in batches:
        keys = {}
        for did, text in bt:
            shingles[did] = _shingles(text)
            keys[did] = _band_keys(shingles[did])
        rest = [did for did, _ in bt
                if not any(jac(shingles[did], shingles[k]) >= threshold
                           for key in keys[did]
                           for k in buckets.get(key, ()))]
        parent = {d: d for d in rest}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        local: dict[str, list[int]] = {}
        for did in rest:
            for key in keys[did]:
                local.setdefault(key, []).append(did)
        for members in local.values():
            for i, a in enumerate(members):
                for b in members[i + 1:]:
                    if jac(shingles[a], shingles[b]) >= threshold:
                        ra, rb = find(a), find(b)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
        kept = {d for d in rest if find(d) == d}
        for did in kept:
            for key in keys[did]:
                buckets.setdefault(key, []).append(did)
        out.append(kept)
    return out
