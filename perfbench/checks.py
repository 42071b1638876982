"""Output checks, each against a computation made apart from the program.

Every check takes plain pandas frames (read back from the committed
parquet with pyarrow, or collected once after the timed loop) and
returns a list of error strings; an empty list means the output passed.
``test_checks.py`` shows each check rejecting a corrupted output.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from bfokg.ontology import _BFO_TREE, OBO

MIN_PR = 0.95
# float32 scoring in the program vs float64 here: a top-2 margin below
# this is within rounding and its rank-1 is not compared
FLOAT32_MARGIN = 1e-5


def bfo_uris() -> set[str]:
    return {OBO + obo_id for obo_id, *_ in _BFO_TREE}


def bfo_ancestors() -> dict[str, set[str]]:
    """uri → strict ancestor uris, walked from the tree's parent map."""
    uri_of = {label: OBO + obo_id for obo_id, label, *_ in _BFO_TREE}
    parent = {OBO + obo_id: (uri_of[p] if p else None) for obo_id, _l, p, *_ in _BFO_TREE}
    out = {}
    for uri in parent:
        seen, cur = set(), parent[uri]
        while cur is not None and cur not in seen:
            seen.add(cur)
            cur = parent[cur]
        out[uri] = seen
    return out


# ---------------------------------------------------------------- kg_build --


def check_kg(edges: pd.DataFrame, nodes: pd.DataFrame, truth: pd.DataFrame) -> list[str]:
    """Edges against the planted relations: one edge per (subj, pred, obj)
    carrying the earliest (ts, conv_id, turn_idx) occurrence, precision
    and recall >= MIN_PR. Nodes: exactly one per edge qid, each with a
    class of the BFO tree."""
    errors = []
    key = ["subj_qid", "pred", "obj_qid"]
    first = (truth.sort_values(["ts", "conv_id", "turn_idx"])
             .drop_duplicates(key, keep="first").set_index(key))
    if edges.duplicated(key).any():
        errors.append(f"{int(edges.duplicated(key).sum())} duplicate edge keys")
    got = edges.drop_duplicates(key).set_index(key)
    hit = got.index.intersection(first.index)
    precision = len(hit) / max(len(got), 1)
    recall = len(hit) / max(len(first), 1)
    if precision < MIN_PR or recall < MIN_PR:
        errors.append(f"edge precision {precision:.4f} / recall {recall:.4f} below {MIN_PR}")
    prov = ["ts", "conv_id", "turn_idx"]
    a = got.loc[hit, prov].sort_index()
    b = first.loc[hit, prov].sort_index()
    wrong = ~((a["ts"].values == b["ts"].values)
              & (a["conv_id"].values == b["conv_id"].values)
              & (a["turn_idx"].values == b["turn_idx"].values))
    if wrong.any():
        errors.append(f"{int(wrong.sum())} edges do not carry their earliest occurrence")
    qids = set(edges["subj_qid"]) | set(edges["obj_qid"])
    per_qid = nodes.groupby("qid").size()
    if set(per_qid.index) != qids:
        errors.append(f"node qids differ from edge qids "
                      f"({len(set(per_qid.index) ^ qids)} in one set only)")
    if (per_qid != 1).any():
        errors.append(f"{int((per_qid != 1).sum())} qids with more than one node")
    bad_class = ~nodes["bfo_class_uri"].isin(bfo_uris())
    if bad_class.any():
        errors.append(f"{int(bad_class.sum())} nodes without a BFO-tree class")
    return errors


# ----------------------------------------------------------- corpus_curate --


def check_curation(corpus: pd.DataFrame, doc_ids: list[int], clusters: list[list[int]],
                   weights: dict[str, float]) -> list[str]:
    """Exactly one keeper per planted cluster, every non-duplicate kept,
    no doc twice, and split shares within binomial tolerance of weights."""
    errors = []
    kept = corpus["doc_id"].tolist()
    kept_set = set(kept)
    if len(kept) != len(kept_set):
        errors.append(f"{len(kept) - len(kept_set)} docs kept twice")
    in_cluster = set()
    bad = 0
    for members in clusters:
        in_cluster.update(members)
        bad += sum(m in kept_set for m in members) != 1
    if bad:
        errors.append(f"{bad} planted clusters without exactly one keeper")
    lost = [d for d in doc_ids if d not in in_cluster and d not in kept_set]
    if lost:
        errors.append(f"{len(lost)} non-duplicate docs dropped")
    n = len(kept)
    counts = corpus["split"].value_counts()
    for name, w in weights.items():
        c = int(counts.get(name, 0))
        tol = 5 * math.sqrt(n * w * (1 - w)) + 1
        if abs(c - n * w) > tol:
            errors.append(f"split {name}: {c} of {n}, expected {n * w:.0f} ± {tol:.0f}")
    extra = set(counts.index) - set(weights)
    if extra:
        errors.append(f"unexpected split labels {sorted(extra)}")
    return errors


# ---------------------------------------------------------- classify_batch --


def replay_doc_cascade(docs: pd.DataFrame) -> pd.DataFrame:
    """The two-stage doc cascade in DuckDB float64: keyword rule stage
    (accept at confidence >= 0.90), semantic TF-IDF cosine on the rest.
    Returns one row per id: (id, class_uri, margin); ``margin`` is the
    top-2 confidence gap of the deciding stage (inf for rule decisions,
    whose ranking is exact)."""
    import duckdb

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.rule_based import KEYWORD_RULES
    from bfokg.operators.semantic import class_index, class_texts

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    uris, _labels, matrix = class_index(enc)
    nz = np.nonzero(matrix)
    cw = pd.DataFrame({"class_uri": uris[nz[0]],
                       "word": np.array(enc.vocab)[nz[1]], "w": matrix[nz]})
    classes = pd.DataFrame({"class_uri": uris})
    idf = pd.DataFrame({"word": enc.vocab, "idf": enc.idf})
    uri_of = {label: OBO + obo_id for obo_id, label, *_ in _BFO_TREE}
    kw = pd.DataFrame([(uri_of[label], w, len(words), i)
                       for i, (label, words) in enumerate(KEYWORD_RULES.items())
                       for w in words],
                      columns=["class_uri", "keyword", "n_kw", "rule_order"])
    con = duckdb.connect()
    for name, frame in (("docs", docs[["id", "text"]]), ("cw", cw), ("classes", classes),
                        ("idf", idf), ("kw", kw)):
        con.register(name, frame)
    return con.execute("""
WITH toks AS (
  SELECT DISTINCT id, t AS tok FROM (
    SELECT id, unnest(regexp_extract_all(lower(text), '[a-z0-9_-]+')) AS t FROM docs
    UNION ALL
    SELECT id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS t FROM docs)
),
rule AS (
  SELECT t.id, k.class_uri,
         least(count(DISTINCT k.keyword)::DOUBLE / any_value(k.n_kw) * 0.9, 0.95) AS conf,
         count(DISTINCT k.keyword)::DOUBLE / any_value(k.n_kw) AS score,
         any_value(k.rule_order) AS rule_order
  FROM toks t JOIN kw k ON t.tok = k.keyword GROUP BY t.id, k.class_uri
),
rule1 AS (
  SELECT id, class_uri, conf FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, rule_order) AS rn
    FROM rule) WHERE rn = 1 AND conf >= 0.90
),
tf AS (
  SELECT id, t AS word, count(*) AS cnt
  FROM (SELECT id, unnest(regexp_extract_all(lower(text), '[a-z0-9_-]+')) AS t FROM docs)
  GROUP BY id, t
),
comp AS (SELECT tf.id, tf.word, tf.cnt * idf.idf AS c FROM tf JOIN idf USING (word)),
nrm AS (SELECT id, sqrt(sum(c * c)) AS n FROM comp GROUP BY id),
dots AS (
  SELECT comp.id, cw.class_uri, sum(comp.c * cw.w) AS dot
  FROM comp JOIN cw USING (word) GROUP BY comp.id, cw.class_uri
),
sem AS (
  SELECT d.id, cl.class_uri,
         (coalesce(dots.dot / nullif(nrm.n, 0), 0.0) + 1.0) / 2.0 AS conf
  FROM docs d CROSS JOIN classes cl
  LEFT JOIN nrm ON nrm.id = d.id
  LEFT JOIN dots ON dots.id = d.id AND dots.class_uri = cl.class_uri
),
sem_ranked AS (
  SELECT id, class_uri, conf,
         row_number() OVER (PARTITION BY id ORDER BY conf DESC, class_uri) AS rn
  FROM sem
),
sem12 AS (
  SELECT id, max(CASE WHEN rn = 1 THEN class_uri END) AS class_uri,
         max(CASE WHEN rn = 1 THEN conf END) - max(CASE WHEN rn = 2 THEN conf END) AS margin
  FROM sem_ranked WHERE rn <= 2 GROUP BY id
)
SELECT id, class_uri, 'inf'::DOUBLE AS margin FROM rule1
UNION ALL
SELECT id, class_uri, margin FROM sem12 WHERE id NOT IN (SELECT id FROM rule1)
""").df()


def direct_rank1(matches: pd.DataFrame) -> pd.DataFrame:
    """The cascade's own rank-1 row per entity (inferred parents excluded)."""
    m = matches[(matches["rank"] == 1) & (matches["source"] != "inferred")]
    return m.set_index("entity_id")


def check_batch(matches: pd.DataFrame, docs: pd.DataFrame, replay: pd.DataFrame,
                min_compared: float = 0.9) -> list[str]:
    """Every input id has one rank-1 class, equal to the replay's wherever
    the replay's top-2 margin exceeds float32 error."""
    errors = []
    r1 = direct_rank1(matches)
    if r1.index.duplicated().any():
        errors.append(f"{int(r1.index.duplicated().sum())} ids with two rank-1 rows")
        r1 = r1[~r1.index.duplicated()]
    missing = set(docs["id"]) - set(r1.index)
    if missing:
        errors.append(f"{len(missing)} ids without a rank-1 class")
    rep = replay.set_index("id")
    decided = rep[rep["margin"] > FLOAT32_MARGIN]
    if len(decided) < min_compared * len(docs):
        errors.append(f"only {len(decided)} of {len(docs)} ids clear the float32 margin")
    common = decided.index.intersection(r1.index)
    diff = (r1.loc[common, "class_uri"] != decided.loc[common, "class_uri"]).sum()
    if diff:
        errors.append(f"{int(diff)} rank-1 classes differ from the float64 replay")
    errors += check_inferred(matches)
    return errors


# --------------------------------------------------------- classify_entity --


def check_inferred(matches: pd.DataFrame) -> list[str]:
    """Every ``inferred`` row names a strict ancestor of one of the
    entity's direct matches."""
    anc = bfo_ancestors()
    inferred = matches[matches["source"] == "inferred"]
    if inferred.empty:
        return []
    direct = matches[matches["source"] != "inferred"]
    allowed: dict = {}
    for eid, uri in zip(direct["entity_id"], direct["class_uri"]):
        allowed.setdefault(eid, set()).update(anc.get(uri, ()))
    bad = sum(uri not in allowed.get(eid, ()) for eid, uri
              in zip(inferred["entity_id"], inferred["class_uri"]))
    return [f"{bad} inferred rows are not ancestors of a direct match"] if bad else []


def check_requests(single: pd.DataFrame, batch: pd.DataFrame) -> list[str]:
    """Each single request's rank-1 equals the entity's rank-1 when the
    same entities are classified in one batch; inferred rows are
    ancestors of a direct match."""
    errors = []
    s1, b1 = direct_rank1(single), direct_rank1(batch)
    missing = set(b1.index) - set(s1.index)
    if missing or s1.index.duplicated().any():
        errors.append(f"{len(missing)} requests without exactly one rank-1 row")
    common = s1.index.intersection(b1.index)
    diff = (s1.loc[common, "class_uri"] != b1.loc[common, "class_uri"]).sum()
    if diff:
        errors.append(f"{int(diff)} single-request rank-1 classes differ from the batch")
    errors += check_inferred(single)
    return errors
