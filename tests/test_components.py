"""Connected-components duplicate clustering: correctness on adversarial
graph shapes (the oracle test covers the minhash-fed path; these cover the
algorithm itself, where hash-min alone would be slow or a naive impl wrong).
"""

import pytest

from vectordb_data_ingestion_spark.operators.dedup import (
    connected_components,
    dedup_by_components,
)


def _components(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df).collect()
    return {r["node"]: r["component"] for r in rows}


def test_two_cliques_and_bridge(spark):
    # {1,2,3} clique, {10,11} pair, bridged 3-10 => all one component;
    # {20,21} separate
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (3, 10), (20, 21)]
    got = _components(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 20: 20, 21: 20}


def test_path_graph_converges_logarithmically(spark):
    # worst case for plain hash-min (diameter = n); pointer jumping must
    # still converge well inside max_iterations
    n = 64
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df, max_iterations=10).collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == n + 1


def test_unconverged_components_raise(spark):
    # one round cannot settle a 64-edge path: the operator must fail loudly
    # instead of returning labels that split the path into clusters
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=1)


def test_transitive_collapse_without_direct_pair(spark):
    # A~B, B~C but never A~C: one cluster, representative = min id
    got = _components(spark, [(5, 9), (9, 7)])
    assert got == {5: 5, 9: 5, 7: 5}


def test_dedup_by_components_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in (1, 2, 3, 10, 11, 99)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    comp = connected_components(pairs)
    out = dedup_by_components(docs, comp, id_col="doc_id")
    rows = {r["doc_id"]: (r["component"], r["is_dup"]) for r in out.collect()}
    assert rows == {
        1: (1, False),
        2: (1, True),
        3: (1, True),
        10: (10, False),
        11: (10, True),
        99: (99, False),  # isolated row is its own component, kept
    }
    kept = [d for d, (_, dup) in rows.items() if not dup]
    assert sorted(kept) == [1, 10, 99]


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


@pytest.mark.parametrize(
    "seed,n_nodes,n_edges",
    [(7, 60, 40), (11, 120, 150), (13, 200, 80)],
)
def test_randomized_parity_with_union_find(spark, seed, n_nodes, n_edges):
    """The distributed min-label/pointer-jumping algorithm must agree with
    a pure-Python union-find on random graphs across regimes: sparse
    (mostly small components), dense (one giant component emerges), and
    very sparse over many nodes (lots of isolated pairs). Component label
    = min node id of the component, matching the operator's contract."""
    import random

    rng = random.Random(seed)
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(n_nodes), 2)))
            for _ in range(n_edges)
        }
    )

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label per component, only for nodes that appear in an edge
    touched = {v for e in edges for v in e}
    expected = {v: find(v) for v in touched}
    # find() roots are already the min id: union always hangs the larger
    # root under the smaller, so the root never increases
    got = _components(spark, [(a, b) for a, b in edges])
    assert got == expected


def test_spread_starvation_guard(spark):
    """A 1-partition frame (tiny compressed scan) fans out to the
    executor core count so CPU-bound work downstream parallelizes; an
    already-wide frame passes through untouched (no extra shuffle)."""
    from vectordb_data_ingestion_spark.session import spread

    narrow = spark.range(1000).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    out = spread(narrow)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))

    want = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(want + 4)
    assert spread(wide) is wide  # no-op: never ADD a shuffle


def test_string_ids_converge_and_collapse(spark):
    """Review r5: the convergence checksum summed the raw label column,
    which implicitly casts string ids to double -> NULL -> None == None
    -> spurious convergence after ONE iteration. A 10-node string-id
    chain needs ~3 pointer-jumping rounds; every node must still reach
    the global min label."""
    names = [f"doc-{c}" for c in "abcdefghij"]
    edges = [(names[i], names[i + 1]) for i in range(len(names) - 1)]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {n: "doc-a" for n in names}


def test_choose_lsh_banding_curve_properties():
    """The banding chooser returns the cheapest (b, r) whose s-curve
    meets the declared recall/false-candidate bounds; its numbers are
    the exact closed-form probabilities, feasibility failures raise
    loudly, and the curve is monotone in similarity."""
    import pytest

    from vectordb_data_ingestion_spark.operators.dedup import (
        choose_lsh_banding,
    )

    for t in (0.5, 0.7, 0.8):
        cfg = choose_lsh_banding(t)
        b, r = cfg["bands"], cfg["rows_per_band"]
        assert b * r == cfg["num_hashes"] <= 256
        # exact closed form at the two declared operating points
        assert cfg["p_at_threshold"] >= 0.9
        assert cfg["p_at_fp"] <= 0.25
        assert round(1 - (1 - t ** r) ** b, 4) == cfg["p_at_threshold"]
        curve = [cfg["curve"][k] for k in sorted(cfg["curve"])]
        assert curve == sorted(curve)  # monotone s-curve
    # cheapest-first: no smaller signature satisfies the same bounds
    cfg = choose_lsh_banding(0.5)
    for total in range(2, cfg["num_hashes"]):
        for r in range(1, total + 1):
            if total % r:
                continue
            b = total // r
            ok_hit = 1 - (1 - 0.5 ** r) ** b >= 0.9
            ok_fp = 1 - (1 - 0.25 ** r) ** b <= 0.25
            assert not (ok_hit and ok_fp), (total, b, r)
    # infeasible bounds raise instead of nearest-fitting
    with pytest.raises(ValueError, match="loosen"):
        choose_lsh_banding(0.5, max_hashes=32, max_fp_rate=0.05)


# the package's only rename/lock commit primitive lives in the conditional
# store; everything else commits through a manifest CAS. The golden-file
# caches in queries_catalog publish with an atomic os.replace of a temp file.
_COMMIT_PRIMITIVES = {("fcntl", "flock"), ("os", "rename"), ("os", "replace")}
_PRIMITIVE_ALLOWED = {
    "sinks/commit_store.py": None,  # None = the whole module
    "queries_catalog.py": {
        "_chunk_recursive_oracle_sql",
        "_bpe_train_merges_oracle_sql",
        "_bpe_segment_oracle_sql",
    },
}


def _primitive_calls(tree):
    """(enclosing top-level function or None, module, attr, line) for each
    call of a commit primitive, resolving ``import os as x`` and
    ``from os import replace`` aliases."""
    import ast

    mods = {m: m for m, _ in _COMMIT_PRIMITIVES}
    funcs = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in mods:
                    mods[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module in mods:
            for a in node.names:
                funcs[a.asname or a.name] = (node.module, a.name)

    def calls(node, owner):
        for child in ast.iter_child_nodes(node):
            if owner is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                yield from calls(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                target = None
                if isinstance(f, ast.Attribute) and isinstance(
                    f.value, ast.Name
                ) and f.value.id in mods:
                    target = (mods[f.value.id], f.attr)
                elif isinstance(f, ast.Name) and f.id in funcs:
                    target = funcs[f.id]
                if target in _COMMIT_PRIMITIVES:
                    yield (owner, *target, child.lineno)
            yield from calls(child, owner)

    return list(calls(tree, None))


def test_commit_primitives_stay_in_the_conditional_store():
    """CI guard: no package module other than sinks/commit_store.py calls
    fcntl.flock, os.rename or os.replace (queries_catalog's three
    golden-file writes are allowed by their enclosing function). A second
    lock- or rename-based commit protocol would not survive an object
    store, which has neither."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "vectordb_data_ingestion_spark"
    )
    offenders = []
    seen_allowed = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        allowed = _PRIMITIVE_ALLOWED.get(rel, set())
        for owner, mod, attr, line in _primitive_calls(
            ast.parse(path.read_text())
        ):
            if allowed is None or owner in allowed:
                seen_allowed.add((rel, owner))
                continue
            offenders.append(f"{rel}:{line} {mod}.{attr} in {owner}")
    assert not offenders, offenders
    # the allow-list names live call sites, not stale entries
    assert {
        (rel, o)
        for rel, owners in _PRIMITIVE_ALLOWED.items()
        if owners
        for o in owners
    } <= seen_allowed
    # the scanner itself resolves aliases
    probe = ast.parse(
        "import os as _o\nfrom fcntl import flock as lk\n"
        "def f():\n    _o.replace('a', 'b')\n    lk(1, 2)\n"
    )
    assert [c[:3] for c in _primitive_calls(probe)] == [
        ("f", "os", "replace"), ("f", "fcntl", "flock"),
    ]


# the manifest CAS is the package's one commit protocol: only the store
# implementations and the manifest sink call the conditional-put primitives
_CAS_PRIMITIVES = {"cas_update", "put_if"}
_CAS_ALLOWED = {
    "sinks/commit_store.py",
    "sinks/manifest_sink.py",
}


def _cas_calls(tree):
    """(name, line) for each call of a conditional-put primitive: as a
    method (``store.put_if(...)``), by name, or through a ``from ...
    import cas_update as alias``."""
    import ast

    aliases = {
        a.asname or a.name: a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.name in _CAS_PRIMITIVES
    }
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute) and f.attr in _CAS_PRIMITIVES:
            out.append((f.attr, node.lineno))
        elif isinstance(f, ast.Name) and (
            f.id in _CAS_PRIMITIVES or f.id in aliases
        ):
            out.append((aliases.get(f.id, f.id), node.lineno))
    return sorted(out, key=lambda c: c[1])


def test_one_commit_protocol():
    """CI guard: no package module other than the conditional store and
    the manifest sink calls ``cas_update`` or ``put_if``. Every other
    writer commits through
    ``ManifestVectorSink``; a second CAS loop elsewhere is a second
    commit protocol, with its own manifest format and guards."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "vectordb_data_ingestion_spark"
    )
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel in _CAS_ALLOWED:
            continue
        for name, line in _cas_calls(ast.parse(path.read_text())):
            offenders.append(f"{rel}:{line} {name}")
    assert not offenders, offenders
    # the allow-list names modules that exist and call the primitives
    for rel in _CAS_ALLOWED:
        assert _cas_calls(ast.parse((pkg / rel).read_text())), rel
    # the scanner sees method calls, plain names and import aliases
    probe = ast.parse(
        "from x import cas_update as cu\n"
        "def f(s):\n    s.put_if('k', b'', None)\n    cu(s, 'k', g)\n"
    )
    assert [c[0] for c in _cas_calls(probe)] == ["put_if", "cas_update"]


def _store_probes(tree):
    """Lines of ``getattr(self.store, ...)`` / ``hasattr(self.store, ...)``
    calls: a sink probing its store for optional methods."""
    import ast

    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("getattr", "hasattr")
        and node.args
        and ast.unparse(node.args[0]) == "self.store"
    ]


def test_sinks_speak_only_the_conditional_store_protocol():
    """CI guard: no module under ``sinks/`` probes ``self.store`` with
    ``getattr``/``hasattr``. A sink calls only the ``ConditionalStore``
    Protocol's ``get`` / ``put_if`` / ``delete_if``, so a store can't
    grow a duck-typed side channel that only some sinks take."""
    import ast
    import pathlib

    sinks = pathlib.Path(__file__).resolve().parents[1] / (
        "vectordb_data_ingestion_spark/sinks"
    )
    offenders = [
        f"{path.name}:{line}"
        for path in sorted(sinks.glob("*.py"))
        for line in _store_probes(ast.parse(path.read_text()))
    ]
    assert not offenders, offenders
    probe = ast.parse(
        "def f(self):\n    getattr(self.store, 'x', None)\n"
        "    hasattr(self.store, 'y')\n    getattr(self.other, 'x')\n"
    )
    assert _store_probes(probe) == [2, 3]


def _public_functions(tree):
    """Names of the module's top-level public functions."""
    import ast

    return {
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
    }


def test_no_twin_kernel_forms():
    """CI guard: across operators/ and functions/, a public
    ``X_vectorized`` must not have a public ``X`` beside it. A second
    form of one kernel is code that only parity tests run; keep the form
    the callers use and test it directly."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "vectordb_data_ingestion_spark"
    )
    names = set()
    for sub in ("operators", "functions"):
        for path in sorted((pkg / sub).rglob("*.py")):
            names |= _public_functions(ast.parse(path.read_text()))
    twins = {
        n[: -len("_vectorized")]
        for n in names
        if n.endswith("_vectorized") and n[: -len("_vectorized")] in names
    }
    assert twins == set(), sorted(twins)
    # the scanner sees only top-level public defs
    probe = ast.parse(
        "def a():\n    def b(): pass\ndef _c(): pass\nclass D: pass\n"
    )
    assert _public_functions(probe) == {"a"}
