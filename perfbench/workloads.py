"""Inputs, reference answers and output checks for the benchmark.

Every input is a pure function of the seed. The checks run on rows
collected to the driver, so they add no Spark jobs to a timed pass and
can be unit-tested without a Spark session.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa

# input sizes at --scale 1.0
LINK_GROUPS = 400  # ~1,200 code files
WARMUP_GROUPS = 40  # the traced run's link warm-up
STREAM_GROUPS = 120  # ~350 code files, fed as STREAM_BATCHES micro-batches
STREAM_BATCHES = 2
STREAM_COMPACT_EVERY = 2  # compaction fires on the last micro-batch
CORPUS_DOCS = 600

F1_FLOOR = 0.99  # BASELINE.json: pairwise F1 >= 0.99 at the blocking key
NEAR_DUP_THRESHOLD = 0.9  # q32_minhash_near_dup's Jaccard floor


def scaled(n: int, scale: float, floor: int = 8) -> int:
    """An input size at --scale (the tests run tiny inputs)."""
    return max(int(n * scale), floor)


def stream_seed(seed: int) -> int:
    """The stream reads its own code-files table, not the batch one."""
    return seed + 1_000_003


# ---------------------------------------------------------------- linkage


def code_file_table(n_groups: int, seed: int) -> pa.Table:
    """The rows of code_files(spark, n_groups, seed, with_truth=True),
    built in the driver: code_files maps each group id of range(n_groups)
    through this same generator inside a Python-worker job."""
    from cogie_spark.fixtures.codefiles import CODE_FILES_SCHEMA, _group_rows

    types = {"string": pa.string(), "long": pa.int64(), "int": pa.int32()}
    schema = pa.schema([(name, types[t]) for name, t in
                        (c.split() for c in CODE_FILES_SCHEMA.split(", "))])
    rows = [r for g in range(n_groups) for r in _group_rows(seed, g)]
    return pa.Table.from_pylist(rows, schema=schema)


def labeled_pairs(table: pa.Table) -> list[tuple[str, str, bool]]:
    """fixtures.codefiles.labeled_pairs computed in the driver: every
    intra-group pair is a match; each file paired with the next two
    files of its language in (group_id, file_id) order, when their
    groups differ, is a non-match. (left_id < right_id)"""
    rows = table.select(["file_id", "lang", "group_id"]).to_pylist()
    groups, langs = defaultdict(list), defaultdict(list)
    for r in rows:
        groups[r["group_id"]].append(r["file_id"])
        langs[r["lang"]].append((r["group_id"], r["file_id"]))
    out = {(min(a, b), max(a, b)): True
           for fs in groups.values() for i, a in enumerate(fs) for b in fs[i + 1:]}
    for members in langs.values():
        members.sort()
        for i, (gid, fid) in enumerate(members):
            for ngid, nfid in members[i + 1:i + 3]:
                if ngid != gid:
                    out[(min(fid, nfid), max(fid, nfid))] = False
    return [(a, b, m) for (a, b), m in out.items()]


def cluster_digest(rows) -> str:
    """Order-free digest of (file_id, cluster_id) assignments."""
    h = hashlib.sha256()
    for fid, cid in sorted(rows):
        h.update(f"{fid}\t{cid}\n".encode())
    return h.hexdigest()


def pairwise_f1(assign: dict[str, str], labeled) -> float:
    """F1 over the labeled pairs, as operators.metrics.pairwise_prf
    scores predicted_pairs_from_clusters: a pair is predicted when both
    files share a cluster; unlabeled pairs are not scored."""
    tp = fp = fn = 0
    for left, right, is_match in labeled:
        pred = left in assign and assign.get(left) == assign.get(right)
        tp += pred and is_match
        fp += pred and not is_match
        fn += is_match and not pred
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def check_clusters(rows, file_ids, labeled, min_ids: bool = True) -> tuple[list[str], float]:
    """Check one clustering of ``file_ids``; return (problems, F1).

    Every input file appears exactly once, pairwise F1 >= F1_FLOOR and,
    with ``min_ids`` (batch linkage), every cluster_id is the minimum
    file_id of its cluster. A stream keeps the id of the cluster a later
    file joins, so it is checked without ``min_ids``."""
    problems = []
    assign = dict(rows)
    if len(rows) != len(assign):
        problems.append(f"{len(rows) - len(assign)} file(s) assigned twice")
    if set(assign) != set(file_ids):
        missing = len(set(file_ids) - set(assign))
        extra = len(set(assign) - set(file_ids))
        problems.append(f"{missing} input file(s) missing, {extra} unknown file(s)")
    if min_ids:
        members = defaultdict(list)
        for fid, cid in assign.items():
            members[cid].append(fid)
        bad = sum(cid != min(fids) for cid, fids in members.items())
        if bad:
            problems.append(f"{bad} cluster(s) whose id is not their minimum file_id")
    f1 = pairwise_f1(assign, labeled)
    if f1 < F1_FLOOR:
        problems.append(f"pairwise F1 {f1:.5f} < {F1_FLOOR}")
    return problems, f1


# ----------------------------------------------------------------- corpus

_VOCAB = (
    "a the row column table spark stream batch query scan filter join agg "
    "group order sort hash merge key value window vector data line part "
    "customer big small fast slow"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)

CORPUS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def corpus_rows(n_docs: int, seed: int) -> list[dict]:
    """Synthetic ``documents`` table with the testdata schema: word
    salad over a 30-word vocabulary in five languages. Every 20th
    document (from doc_id 50 on) is a near-duplicate of a distinct
    earlier long document, every 50th an exact duplicate, and every
    20th another a digit-heavy low-quality document. The positions are
    fixed, so every seed yields the same number of near-duplicate pairs
    (with q32's own clones of doc_id < 50); the seed draws the text."""
    rng = random.Random(f"perfbench-corpus:{seed}")
    rows: list[dict] = []
    sources: list[dict] = []  # long originals not copied yet
    for doc_id in range(n_docs):
        lang = rng.choices(_LANGS, _LANG_WEIGHTS)[0]
        if doc_id >= 50 and doc_id % 20 == 10 and sources:
            src = sources.pop(rng.randrange(len(sources)))
            words = src["text"].split()
            if len(words) >= 60 and rng.random() < 0.5:
                del words[rng.randrange(1, len(words) - 1)]
            else:
                words.append("dup")
            text, lang = " ".join(words), src["lang"]
        elif doc_id >= 50 and doc_id % 50 == 25 and sources:
            src = sources.pop(rng.randrange(len(sources)))
            text, lang = src["text"], src["lang"]
        elif doc_id % 20 == 15:
            text = " ".join(f"{rng.randrange(10**6)}#{rng.randrange(10**4)}" for _ in range(8))
        else:
            text = " ".join(rng.choices(_VOCAB, k=rng.randint(8, 94)))
        row = dict(doc_id=doc_id, text=text, lang=lang, source=f"src{doc_id % 20}",
                   n_chars=len(text))
        rows.append(row)
        if doc_id >= 50 and doc_id % 20 not in (10, 15) and doc_id % 50 != 25 \
                and len(text.split()) >= 30:
            sources.append(row)
    return rows


def corpus_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA)


def with_q32_clones(rows: list[dict]) -> list[dict]:
    """The table q32 and its oracle scan: the documents plus exact
    clones of doc_id < 50 under doc_id + 100000."""
    clones = [dict(r, doc_id=r["doc_id"] + 100000) for r in rows if r["doc_id"] < 50]
    return rows + clones


def _shingles(text: str, k: int = 8) -> frozenset[str]:
    # trim(regexp_replace(lower(t), '\s+', ' ', 'g')) with RE2's \s
    n = re.sub(r"[\t\n\f\r ]+", " ", text.lower()).strip(" ")
    return frozenset(n[i:i + k] for i in range(max(len(n) - k + 1, 1)))


def near_dup_oracle(rows: list[dict], threshold: float = NEAR_DUP_THRESHOLD):
    """Exact q32 answer: same-language pairs (left_id < right_id) whose
    8-char-shingle Jaccard, rounded half-up to 6 places, is >= threshold.

    Same rows as the DuckDB ``oracle_sql()`` twin of q32 (the perfbench
    tests compare the two), without its all-pairs cost: a prefix filter
    over frequency-ordered shingles proposes every pair that can reach
    the threshold, and each proposal is verified exactly."""
    sets = {r["doc_id"]: _shingles(r["text"]) for r in rows}
    freq: dict[str, int] = defaultdict(int)
    for s in sets.values():
        for g in s:
            freq[g] += 1
    # any pair whose rounded Jaccard reaches the threshold has exact
    # Jaccard >= lo, so prefixes built for lo cannot miss it
    lo = threshold - 1e-6
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r["doc_id"])
    out = []
    for ids in by_lang.values():
        index: dict[str, list[int]] = defaultdict(list)
        cands: set[tuple[int, int]] = set()
        for d in ids:
            toks = sorted(sets[d], key=lambda g: (freq[g], g))
            prefix = len(toks) - int(lo * len(toks)) + 1
            for g in toks[:prefix]:
                for e in index[g]:
                    cands.add((min(d, e), max(d, e)))
                index[g].append(d)
        for a, b in cands:
            inter = len(sets[a] & sets[b])
            j = (Decimal(inter) / Decimal(len(sets[a]) + len(sets[b]) - inter)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            if j >= Decimal(str(threshold)):
                out.append((a, b, float(j)))
    return out


def _oracle_canon():
    """tests/oracle_check.py's row canonicalisation, loaded from the
    repository so both checks agree on what 'equal rows' means."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tests", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.rows_to_multiset


PAIR_COLS = ["left_id", "right_id", "jaccard"]


def check_near_dups(pairs, expected) -> list[str]:
    """q32 rows against the oracle rows, compared as canonical multisets."""
    canon = _oracle_canon()
    got, want = canon(PAIR_COLS, pairs), canon(PAIR_COLS, expected)
    if got == want:
        return []
    missing = len(set(want) - set(got))
    extra = len(set(got) - set(want))
    return [f"q32 returned {len(got)} pairs, oracle {len(want)} "
            f"({missing} missing, {extra} extra)"]


def pair_f1(got, want) -> float:
    got = {(a, b) for a, b, _ in got}
    want = {(a, b) for a, b, _ in want}
    tp = len(got & want)
    return 2 * tp / (len(got) + len(want)) if got or want else 1.0
