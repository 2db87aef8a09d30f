"""Driver-side cost of the iterative operators, and the one Jaccard verify.

* Model state (centroids, weights, vocabularies, probability lists)
  crosses py4j as ONE literal: no per-element ``F.lit`` comprehension
  under ``tidier_spark/operators/``, and the py4j call count of building
  ``kmeans_fit`` / ``bpe_encode`` does not grow with the model.
* ``bpe_train`` returns a JVM-local merge table (no pickled-row RDD).
* ``near_dup_pairs`` / ``dedup_against`` verify candidates from
  per-document shingle arrays; a brute-force Python Jaccard over the same
  candidates pins the result, including empty / NULL / too-short texts,
  identical documents and duplicate ids.
"""

from __future__ import annotations

import ast
import contextlib
import random
from collections import Counter
from pathlib import Path

import pytest

from tidier_spark.operators import bpe, dedup, similarity

OPERATORS = Path(__file__).resolve().parents[1] / "tidier_spark" / "operators"
_BUILDERS = {"array", "create_map", "struct"}


def _is_lit_chain(node: ast.AST) -> bool:
    """``F.lit(x)`` possibly followed by ``.cast(...)``/``.alias(...)``."""
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr == "lit" and isinstance(node.func.value, ast.Name):
            return True
        node = node.func.value
    return False


def _per_element_literals(tree: ast.AST) -> list[int]:
    hits = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _BUILDERS
        ):
            continue
        for arg in node.args:
            arg = arg.value if isinstance(arg, ast.Starred) else arg
            if isinstance(arg, (ast.ListComp, ast.GeneratorExp)) and _is_lit_chain(
                arg.elt
            ):
                hits.append(node.lineno)
    return hits


def test_ast_probe_flags_per_element_literals():
    src = (
        "a = F.array(*[F.lit(v) for v in xs])\n"
        "b = F.array([F.lit(i).cast('int') for i in range(3)])\n"
        "c = F.create_map(*(F.lit(k) for k in ks))\n"
        "ok = F.array(*[F.struct(F.lit(b).alias('band')) for b in bs])\n"
    )
    assert _per_element_literals(ast.parse(src)) == [1, 2, 3]


def test_operators_build_no_per_element_literal_arrays():
    bad = {
        p.name: lines
        for p in sorted(OPERATORS.glob("*.py"))
        if (lines := _per_element_literals(ast.parse(p.read_text())))
    }
    assert not bad, f"per-element F.lit comprehensions (use json_lit): {bad}"


@contextlib.contextmanager
def _py4j_calls(spark):
    """Count Python→JVM commands sent while the block runs, except the
    release of garbage-collected JVM references (timing-dependent)."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]

    def counting(command, *args, **kwargs):
        n[0] += not command.startswith(MEMORY_COMMAND_NAME)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        del client.send_command


def _vectors(spark, n: int, dims: int):
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dims)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_fit_py4j_calls_do_not_grow_with_k(spark):
    emb = _vectors(spark, 40, 16)
    counts = {}
    for k in (2, 16):
        with _py4j_calls(spark) as n:
            similarity.kmeans_fit(emb, k=k, iters=2)
        counts[k] = n[0]
    # a few commands of first-call lookups aside, the count is flat; the
    # per-element centroid literal sent ~3000 more at k=16
    assert abs(counts[16] - counts[2]) <= 20, counts


def test_bpe_encode_py4j_calls_do_not_grow_with_vocab(spark):
    docs = spark.createDataFrame([(1, "abc cab")], "doc_id long, text string")
    merges = [("a", "b"), ("ab", "c")]
    counts = {}
    for chars in ("abc", "abcdefghijklmnopqrstuvwxyz0123456789"):
        with _py4j_calls(spark) as n:
            bpe.bpe_encode(docs, merges, list(chars))
        counts[len(chars)] = n[0]
    # the per-entry map literal sent ~200 more commands at 36 characters
    assert abs(counts[36] - counts[3]) <= 20, counts


def test_bpe_train_merge_table_has_no_python_rdd(spark):
    docs = spark.createDataFrame(
        [(1, "lower lowest newer newest"), (2, "low new wider")],
        "doc_id long, text string",
    )
    merges = bpe.bpe_train(docs, n_merges=3)
    plan = merges._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
    assert merges.columns == ["rank", "left_sym", "right_sym", "merged", "pair_n"]
    local, _ = bpe.bpe_train_local(docs, n_merges=3)
    assert [tuple(r) for r in merges.collect()] == local


# --- the Jaccard verify against a brute-force reference ---------------------

_WORDS = "alpha beta gamma delta eps zeta eta theta iota kappa".split()


def _corpus(seed: int, n: int = 14, dup_ids: bool = False):
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(_WORDS[: rng.randint(3, 10)]) for _ in range(rng.randint(3, 14)))
        for _ in range(n)
    ]
    texts[1] = ""  # empty text
    texts[2] = None  # NULL text
    texts[3] = "alpha beta"  # shorter than shingle_n
    texts[5] = texts[4]  # identical documents
    texts[7] = texts[6] + " kappa"  # near duplicate
    ids = [i // 2 if dup_ids else i for i in range(n)]
    return list(zip(ids, texts))


def _shingle_bags(spark, df) -> dict[int, Counter]:
    """(id → multiset of shingles), from the same shingling the operators
    verify over (one distinct set per row; rows sharing an id add up)."""
    bags: dict[int, Counter] = {}
    for r in dedup._distinct_shingles(df, "doc_id", "text", 3).collect():
        bags.setdefault(r.doc_id, Counter())[r.shingle] += 1
    return bags


def _jaccard(a: Counter, b: Counter) -> float:
    # what a shingle-row equi-join counts: Σ count_a·count_b shared, set
    # sizes with multiplicity (for distinct ids: plain set Jaccard)
    shared = sum(n * b[s] for s, n in a.items() if s in b)
    return shared / (sum(a.values()) + sum(b.values()) - shared)


@pytest.mark.parametrize("dup_ids", [False, True], ids=["unique", "dupids"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_near_dup_pairs_matches_brute_force_jaccard(spark, seed, dup_ids):
    df = spark.createDataFrame(_corpus(seed, dup_ids=dup_ids), "doc_id long, text string")
    bags = _shingle_bags(spark, df)
    cand = [tuple(r) for r in dedup.minhash_candidate_pairs(df, k=8, bands=4).collect()]
    for threshold in (0.0, 0.3):
        want = {
            (a, b, _jaccard(bags[a], bags[b]))
            for a, b in cand
            if _jaccard(bags[a], bags[b]) >= threshold
        }
        got = dedup.near_dup_pairs(df, k=8, bands=4, threshold=threshold).collect()
        assert len(got) == len(want)
        assert {tuple(r) for r in got} == want
        if not dup_ids:
            assert (4, 5, 1.0) in want  # the identical documents pair up


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_dedup_against_matches_brute_force_jaccard(spark, seed):
    rows = _corpus(seed, n=20)
    new = spark.createDataFrame(rows[::2], "doc_id long, text string")
    ref = spark.createDataFrame(rows[1::2], "doc_id long, text string")
    bn = dedup.banded_signatures(new, out_id="doc_id_n")
    br = dedup.banded_signatures(ref, out_id="ref_id")
    cand = {
        (r.doc_id_n, r.ref_id)
        for r in bn.join(br, ["band", "sig"]).select("doc_id_n", "ref_id").collect()
    }
    bags_new, bags_ref = _shingle_bags(spark, new), _shingle_bags(spark, ref)
    scored = {(a, b): _jaccard(bags_new[a], bags_ref[b]) for a, b in cand}
    for threshold in (0.0, 0.3):
        kept = {p: j for p, j in scored.items() if j >= threshold}
        best: dict[int, tuple] = {}
        for (a, b), j in sorted(kept.items(), key=lambda kv: (-kv[1], kv[0][1])):
            best.setdefault(a, (a, b, j))
        got = dedup.dedup_against(new, ref, threshold=threshold).collect()
        assert {tuple(r) for r in got} == set(best.values())
        ids = dedup.dedup_against(new, ref, threshold=threshold, best_match=False)
        assert {r[0] for r in ids.collect()} == set(best)
