"""Each output check accepts a correct output and rejects a corrupted one.

    python3 -m pytest perfbench/test_checks.py -q -p no:cacheprovider

No Spark session: the checks work on pandas frames.
"""

import os
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                os.path.dirname(os.path.abspath(__file__))]

import checks  # noqa: E402
import inputs  # noqa: E402
from bfokg.ontology import OBO  # noqa: E402

PROCESS = OBO + "BFO_0000015"
OCCURRENT = OBO + "BFO_0000003"
MATERIAL = OBO + "BFO_0000040"


def ts(s):
    return pd.Timestamp("2026-01-01", tz="UTC") + pd.Timedelta(seconds=s)


@pytest.fixture
def kg():
    truth = pd.DataFrame(
        [("Q1", "part_of", "Q2", ts(30), "c1", 1), ("Q1", "part_of", "Q2", ts(10), "c2", 2),
         ("Q2", "influenced", "Q3", ts(5), "c3", 1), ("Q3", "located_in", "Q1", ts(7), "c0", 4)],
        columns=["subj_qid", "pred", "obj_qid", "ts", "conv_id", "turn_idx"])
    edges = truth.iloc[[1, 2, 3]].reset_index(drop=True)
    nodes = pd.DataFrame({"qid": ["Q1", "Q2", "Q3"],
                          "bfo_class_uri": [MATERIAL, PROCESS, MATERIAL],
                          "source": ["semantic"] * 3})
    return edges, nodes, truth


def test_kg_accepts_correct(kg):
    assert checks.check_kg(*kg) == []


def test_kg_rejects_later_occurrence(kg):
    edges, nodes, truth = kg
    edges.loc[0, ["ts", "conv_id", "turn_idx"]] = [ts(30), "c1", 1]
    assert any("earliest" in e for e in checks.check_kg(edges, nodes, truth))


def test_kg_rejects_missing_and_extra_edges(kg):
    edges, nodes, truth = kg
    assert checks.check_kg(edges.iloc[:1], nodes[nodes.qid != "Q3"], truth)
    extra = pd.concat([edges, edges.assign(pred="related_to")], ignore_index=True)
    assert any("precision" in e for e in checks.check_kg(extra, nodes, truth))


def test_kg_rejects_bad_nodes(kg):
    edges, nodes, truth = kg
    assert checks.check_kg(edges, pd.concat([nodes, nodes.iloc[:1]]), truth)
    assert checks.check_kg(edges, nodes.assign(bfo_class_uri=[None, PROCESS, "x"]), truth)


@pytest.fixture
def curation():
    doc_ids = list(range(1, 201))
    clusters = [[1, 2, 3], [10, 11]]
    kept = [d for d in doc_ids if d not in (2, 3, 11)]
    corpus = pd.DataFrame({"doc_id": kept,
                           "split": ["a" if i % 2 else "b" for i in range(len(kept))]})
    return corpus, doc_ids, clusters, {"a": 0.5, "b": 0.5}


def test_curation_accepts_correct(curation):
    assert checks.check_curation(*curation) == []


def test_curation_rejects_two_keepers_and_dropped_docs(curation):
    corpus, doc_ids, clusters, weights = curation
    two = pd.concat([corpus, pd.DataFrame({"doc_id": [2], "split": ["a"]})])
    assert any("cluster" in e for e in checks.check_curation(two, doc_ids, clusters, weights))
    dropped = corpus[corpus.doc_id != 50]
    assert any("dropped" in e for e in checks.check_curation(dropped, doc_ids, clusters, weights))
    twice = pd.concat([corpus, corpus.iloc[:1]])
    assert checks.check_curation(twice, doc_ids, clusters, weights)


def test_curation_rejects_skewed_splits(curation):
    corpus, doc_ids, clusters, weights = curation
    assert checks.check_curation(corpus.assign(split="a"), doc_ids, clusters, weights)


@pytest.fixture
def batch():
    from bfokg.operators.rule_based import KEYWORD_RULES

    docs = pd.DataFrame({"id": ["d1", "d2", "d3"], "text": [
        " ".join(KEYWORD_RULES["Process"]) + " and more words",
        "a spatial region such as the interior of a box",
        "a quality such as the mass or the colour of an apple"]})
    replay = checks.replay_doc_cascade(docs)
    matches = replay.rename(columns={"id": "entity_id"}).assign(rank=1, source="semantic")
    return matches[["entity_id", "class_uri", "rank", "source"]], docs, replay


def test_replay_rule_stage_decides_full_keyword_match(batch):
    _m, _d, replay = batch
    assert replay.set_index("id").loc["d1", "class_uri"] == PROCESS


def test_batch_accepts_correct(batch):
    assert checks.check_batch(*batch) == []


def test_batch_rejects_wrong_class_and_missing_ids(batch):
    matches, docs, replay = batch
    wrong = matches.copy()
    wrong.loc[wrong.entity_id == "d2", "class_uri"] = PROCESS
    assert any("differ" in e for e in checks.check_batch(wrong, docs, replay))
    assert any("without" in e for e in checks.check_batch(matches.iloc[1:], docs, replay))


def test_requests_accept_agreeing_batch():
    single = pd.DataFrame({"entity_id": ["e1", "e1", "e2"], "class_uri": [PROCESS, OCCURRENT, MATERIAL],
                           "rank": [1, 1, 1], "source": ["semantic", "inferred", "semantic"]})
    assert checks.check_requests(single, single[single.source != "inferred"]) == []


def test_requests_reject_disagreement_and_bad_inferred():
    single = pd.DataFrame({"entity_id": ["e1", "e2"], "class_uri": [PROCESS, MATERIAL],
                           "rank": [1, 1], "source": ["semantic", "semantic"]})
    batch = single.assign(class_uri=[PROCESS, PROCESS])
    assert any("differ" in e for e in checks.check_requests(single, batch))
    bad = pd.concat([single, pd.DataFrame({"entity_id": ["e2"], "class_uri": [OCCURRENT],
                                           "rank": [1], "source": ["inferred"]})])
    assert any("ancestor" in e for e in checks.check_requests(bad, single))


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.transcripts(str(tmp_path / "a"), 5, 600)
    b = inputs.transcripts(str(tmp_path / "b"), 5, 600)
    c = inputs.transcripts(str(tmp_path / "c"), 6, 600)
    read = [pq.read_table(os.path.join(p, "truth.parquet")) for p in (a, b, c)]
    assert read[0].equals(read[1]) and not read[0].equals(read[2])
    d1 = inputs.documents(str(tmp_path / "a"), 5, 500)
    d2 = inputs.documents(str(tmp_path / "b"), 5, 500)
    assert open(os.path.join(d1, "truth.json")).read() == open(os.path.join(d2, "truth.json")).read()
