"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same pair gives
byte-identical inputs. Outputs are cached under ``<work>/inputs`` keyed
by kind, size and seed, so a repeated run reuses them; generation is
never inside a timed span. Each generator also writes the ground truth
it planted, which the checks in ``checks.py`` compare against.

- transcripts: the ``bfokg.datagen`` conversation grammar (user /
  assistant / tool turns, relation sentences, mention-free filler), with
  conversation start times shuffled so the earliest occurrence of an
  edge is not simply the lowest conv_id. Truth: every planted
  (subject, predicate, object, ts, conv_id, turn_idx).
- documents: bag-of-words texts over the BFO definition/example and
  filler vocabulary, with planted near-duplicate clusters (one word
  replaced per copy: word-3-gram Jaccard ~0.9 to the base, ~0.0 between
  unrelated docs, both far from the 0.5 curation threshold). Truth:
  cluster membership.
- entity documents: (id, text) rows for batch classification; a share
  of rows carries every keyword of one rule class so the rule stage of
  the cascade accepts them, the rest fall through to the semantic stage.
- request pool: fixture-derived entities, each with its own id and the
  fixture's ground-truth class, for single-entity requests.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from bfokg.datagen import (
    _ASSISTANT_TEMPLATES,
    _FILLER,
    _TOOLS,
    _USER_TEMPLATES,
    BASE_TS,
    RELATION_PREDICATES,
    ROLES_CYCLE,
    TURNS_PER_FILE,
)
from bfokg.fixtures import _FIXTURES
from bfokg.ontology import _BFO_TREE
from bfokg.operators.rule_based import KEYWORD_RULES

TURNS_PER_CONV = 6
DOC_WORDS = 80
ROWS_PER_FILE = 5_000
DUP_SHARE = 0.1  # share of documents in planted near-duplicate clusters
RULE_SHARE = 0.3  # share of entity documents carrying a rule class's keywords
# one request round: entities whose text holds a rule keyword, and ones
# whose text holds none (22 : 7 among the fixtures)
ROUND_HITS, ROUND_MISSES = 3, 1


def _cached(root: str, key: str, build) -> str:
    """Build into ``root/key`` once; a ``_DONE`` marker makes it reusable.

    The build runs in a child process, so the benchmark process's peak
    RSS (a metric) never holds the generator's working set."""
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    ctx = multiprocessing.get_context("fork")
    child = ctx.Process(target=build, args=(tmp,))
    child.start()
    child.join()
    if child.exitcode != 0:
        raise RuntimeError(f"generating {key} failed (exit {child.exitcode})")
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out)
    return out


def _write_parts(table: pa.Table, data_dir: str, rows_per_file: int) -> None:
    for i, start in enumerate(range(0, max(table.num_rows, 1), rows_per_file)):
        pq.write_table(table.slice(start, rows_per_file),
                       os.path.join(data_dir, f"part-{i:05d}.parquet"))


# ------------------------------------------------------------ transcripts --


def transcripts(root: str, seed: int, n_turns: int) -> str:
    """Returns a dir with ``data/`` (the transcripts table) and
    ``truth.parquet`` (one row per planted relation sentence)."""
    return _cached(root, f"transcripts-n{n_turns}-s{seed}",
                   lambda out: _build_transcripts(out, seed, n_turns))


def _build_transcripts(out: str, seed: int, n_turns: int) -> None:
    rng = np.random.default_rng([seed, 1])
    n_convs = max(1, n_turns // TURNS_PER_CONV)
    n_fix = len(_FIXTURES)
    start_min = rng.permutation(n_convs)  # distinct conversation start slots
    anchors = rng.integers(n_fix, size=n_convs)
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    truth = {k: [] for k in ("subj_qid", "pred", "obj_qid", "ts", "conv_id", "turn_idx")}
    n_filler = len(_FILLER)
    for c in range(n_convs):
        conv_id = f"conv_{c:08d}"
        eid, label, desc, aliases, _gt = _FIXTURES[anchors[c]]
        forms = [label, *aliases]
        draws = rng.integers(1 << 30, size=(TURNS_PER_CONV, 12))
        for t in range(TURNS_PER_CONV):
            d = draws[t]
            role = ROLES_CYCLE[t % len(ROLES_CYCLE)]
            tool = None
            ts = BASE_TS.timestamp() + int(start_min[c]) * 60 + t
            if role == "user":
                m = forms[d[0] % len(forms)]
                filler = " ".join(_FILLER[x % n_filler] for x in d[3:3 + 1 + d[1] % 2])
                text = _USER_TEMPLATES[d[2] % len(_USER_TEMPLATES)].format(m=m) + " " + filler
            elif role == "assistant":
                other = d[0] % n_fix
                pred, tmpl = RELATION_PREDICATES[d[1] % len(RELATION_PREDICATES)]
                rel = tmpl.format(s=label, o=_FIXTURES[other][1])
                filler = " ".join(_FILLER[x % n_filler] for x in d[4:4 + 3 + d[3] % 4])
                text = (_ASSISTANT_TEMPLATES[d[2] % len(_ASSISTANT_TEMPLATES)]
                        .format(m=label, d=desc, rel=rel) + " " + filler)
                for k, v in (("subj_qid", eid), ("pred", pred),
                             ("obj_qid", _FIXTURES[other][0]), ("ts", ts),
                             ("conv_id", conv_id), ("turn_idx", t)):
                    truth[k].append(v)
            else:
                tool = _TOOLS[d[0] % len(_TOOLS)]
                filler = " ".join(_FILLER[x % n_filler] for x in d[2:2 + d[1] % 2])
                text = f"result: {label} [ok] " + filler
            for k, v in (("conv_id", conv_id), ("turn_idx", t), ("role", role),
                         ("text", text), ("tool", tool), ("ts", ts)):
                cols[k].append(v)
    us = pa.timestamp("us", tz="UTC")

    def ts_array(secs):
        return pa.array(np.asarray(secs, dtype=np.int64) * 1_000_000, pa.int64()).cast(us)

    table = pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": ts_array(cols["ts"]),
    })
    _write_parts(table, os.path.join(out, "data"), TURNS_PER_FILE)
    pq.write_table(pa.table({
        "subj_qid": pa.array(truth["subj_qid"], pa.string()),
        "pred": pa.array(truth["pred"], pa.string()),
        "obj_qid": pa.array(truth["obj_qid"], pa.string()),
        "ts": ts_array(truth["ts"]),
        "conv_id": pa.array(truth["conv_id"], pa.string()),
        "turn_idx": pa.array(truth["turn_idx"], pa.int32()),
    }), os.path.join(out, "truth.parquet"))


# -------------------------------------------------------------- documents --


def _vocab() -> list[str]:
    words = set()
    for _id, label, _parent, definition, examples in _BFO_TREE:
        words.update(re.findall(r"[a-z]+", f"{label} {definition} {' '.join(examples)}".lower()))
    for sentence in _FILLER:
        words.update(re.findall(r"[a-z]+", sentence.lower()))
    return sorted(w for w in words if len(w) > 2)


def documents(root: str, seed: int, n_docs: int) -> str:
    """Returns a dir with ``data/`` (doc_id, text) and ``truth.json``:
    ``{"clusters": [[doc_id, ...], ...]}``. About ``DUP_SHARE`` of docs sit
    in planted clusters of 2-4 members; every other doc is unique."""
    return _cached(root, f"documents-n{n_docs}-s{seed}",
                   lambda out: _build_documents(out, seed, n_docs))


def _build_documents(out: str, seed: int, n_docs: int) -> None:
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_vocab())
    texts: list[str] = []
    clusters: list[list[int]] = []
    n_clustered = int(n_docs * DUP_SHARE)
    while len(texts) < n_clustered:
        size = int(rng.integers(2, 5))
        base = rng.integers(len(vocab), size=DOC_WORDS)
        members = [len(texts)]
        texts.append(" ".join(vocab[base]))
        for _ in range(size - 1):
            copy = base.copy()
            copy[rng.integers(DOC_WORDS)] = rng.integers(len(vocab))
            members.append(len(texts))
            texts.append(" ".join(vocab[copy]))
        clusters.append(members)
    words = rng.integers(len(vocab), size=(n_docs - len(texts), DOC_WORDS))
    texts.extend(" ".join(vocab[row]) for row in words)
    # doc ids are a seeded permutation, so a cluster's keeper (its min id)
    # is not always the base document
    ids = rng.permutation(np.arange(1, len(texts) + 1, dtype=np.int64) * 7)
    order = rng.permutation(len(texts))
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
    _write_parts(table, os.path.join(out, "data"), ROWS_PER_FILE)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"n_docs": len(texts),
                   "clusters": [[int(ids[m]) for m in c] for c in clusters]}, f)


def entity_documents(root: str, seed: int, n_rows: int) -> str:
    """Returns a dir with ``data/`` (id, text). About ``RULE_SHARE`` of rows
    carry all keywords of one keyword-rule class among other words."""
    return _cached(root, f"entitydocs-n{n_rows}-s{seed}",
                   lambda out: _build_entity_documents(out, seed, n_rows))


def _build_entity_documents(out: str, seed: int, n_rows: int) -> None:
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocab())
    rule_lists = list(KEYWORD_RULES.values())
    texts = []
    for i in range(n_rows):
        words = list(vocab[rng.integers(len(vocab), size=int(rng.integers(12, 40)))])
        if rng.random() < RULE_SHARE:
            words += rule_lists[int(rng.integers(len(rule_lists)))]
            rng.shuffle(words)
        texts.append(" ".join(words))
    table = pa.table({
        "id": pa.array([f"D{seed}_{i:07d}" for i in range(n_rows)], pa.string()),
        "text": pa.array(texts, pa.string()),
    })
    _write_parts(table, os.path.join(out, "data"), ROWS_PER_FILE)


# ----------------------------------------------------------- request pool --


def has_rule_keyword(label: str, desc: str) -> bool:
    """Whether the entity text (``label: description``, as the classifier
    builds it) holds any keyword of the rule stage, with the rule stage's
    token classes."""
    text = f"{label}: {desc}".lower()
    tokens = set(re.findall(r"[a-z0-9_\-]+", text)) | set(re.findall(r"[a-z0-9_]+", text))
    return any(tokens.intersection(words) for words in KEYWORD_RULES.values())


def request_pool(seed: int, n_rounds: int) -> list[dict]:
    """Fixture-derived entities in request order: one warm-up round of
    one entity whose text holds a rule keyword and one whose text holds
    none, then ``n_rounds`` rounds of ``ROUND_HITS`` + ``ROUND_MISSES``. Each entity
    has a fresh id (never repeated in a run) and its fixture's
    ground-truth class.

    Whether the text holds a rule keyword decides the classifier's route
    (22 of the 29 fixtures do), so every round holds the same mix in a
    seeded order: runs with different seeds then time the same work."""
    rng = np.random.default_rng([seed, 4])
    hit = [has_rule_keyword(f[1], f[2]) for f in _FIXTURES]
    strata = ([f for f, h in zip(_FIXTURES, hit) if h],
              [f for f, h in zip(_FIXTURES, hit) if not h])
    pool = []
    for n_hit, n_miss in [(1, 1)] + [(ROUND_HITS, ROUND_MISSES)] * n_rounds:
        picks = ([strata[0][i] for i in rng.integers(len(strata[0]), size=n_hit)]
                 + [strata[1][i] for i in rng.integers(len(strata[1]), size=n_miss)])
        for j in rng.permutation(len(picks)):
            eid, label, desc, aliases, gt = picks[j]
            pool.append({"id": f"{eid}_R{seed}_{len(pool):04d}", "label": label,
                         "description": desc, "aliases": list(aliases),
                         "gt_label": gt})
    return pool
