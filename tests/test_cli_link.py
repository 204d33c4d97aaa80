"""End-to-end CLI: two consecutive `link` runs over the same input.

Run 1 starts with no registry: every cluster mints a new entity id.
Run 2 resolves against run 1's persisted cascade registry: every cluster
must hit at full signature strength ('sig') with the SAME entity ids —
the idempotent-rerun guarantee the deterministic md5 ids exist for.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from addressparser_spark import cli


def _registry(spark, out):
    """The registry under ``out``, read as ``link`` and ``stream`` read it."""
    from addressparser_spark.sources.registry_writer import ParquetRegistryWriter
    from addressparser_spark.sources.tables import TableStore

    return ParquetRegistryWriter(TableStore(spark, str(out))).read()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# Spark jobs of one `link` over the sf0.001 transcripts into an empty
# registry; deterministic for the test session's fixed cores and shuffle
# partitions
LINK_JOBS = 42


@pytest.fixture(scope="module")
def first_link(spark, sf_dir, tmp_path_factory):
    """One `link` into an empty registry: (transcripts dir, output dir,
    metrics, whether the session's cache was empty afterwards, the number
    of Spark jobs it ran)."""
    # the CLI consumes a transcripts parquet; derive one from the test data
    from addressparser_spark.data.transcripts import transcripts_df

    base = tmp_path_factory.mktemp("cli_link")
    tdir = str(base / "transcripts")
    transcripts_df(spark, sf_dir).write.parquet(tdir)
    out = base / "out"
    spark.catalog.clearCache()  # frames other tests left cached
    sc = spark.sparkContext
    sc.setJobGroup("first_link", "cli link into an empty registry")
    try:
        cli.main(["link", "--input", tdir, "--output", str(out)])
    finally:
        sc._jsc.clearJobGroup()
    jobs = len(sc.statusTracker().getJobIdsForGroup("first_link"))
    released = _cache_empty(spark)
    metrics = json.loads(open(out / "metrics.json").read())
    return tdir, out, metrics, released, jobs


def test_link_releases_every_persisted_frame(first_link):
    # a second in-process link must not find the first one's frames pinned
    assert first_link[3]


def test_link_job_count(first_link):
    """Guards the driver-side job count of `link`: a new per-stage action
    or probe, or a layer that recomputes a persisted frame, shows up here."""
    assert first_link[4] == LINK_JOBS


def test_observed_metrics_match_written_tables(spark, first_link):
    _, out, m, *_ = first_link
    clusters = spark.read.parquet(str(out / "clusters"))
    assert m["n_clusters"] == clusters.select("cluster_id").distinct().count()
    assert m["dropped_blocks"] == spark.read.parquet(str(out / "dropped_blocks")).count()
    resolved = spark.read.parquet(str(out / "resolved"))
    assert sum(m["resolve_stages"].values()) == resolved.count()


def test_link_twice_resolves_from_registry(spark, tmp_path, first_link):
    tdir, out, m1, *_ = first_link
    assert m1["resolve_stages"] == {"new": 167}
    assert m1["n_clusters"] == 117  # 100 base + 17 _d1 hard-negative singletons

    r1 = {
        (r["conv_id"], r["entity_id"])
        for r in spark.read.parquet(str(out / "resolved")).collect()
    }

    out2 = tmp_path / "out2"
    # second run: same input, registry carried over from run 1
    shutil.copytree(out / "registry", out2 / "registry")
    cli.main(["link", "--input", tdir, "--output", str(out2)])
    m2 = json.loads(open(out2 / "metrics.json").read())
    assert m2["resolve_stages"] == {"sig": 167}

    r2 = {
        (r["conv_id"], r["entity_id"])
        for r in spark.read.parquet(str(out2 / "resolved")).collect()
    }
    assert r1 == r2  # identical entity assignment across reruns

    # registry is stable: run 2 added nothing
    reg1, reg2 = _registry(spark, out), _registry(spark, out2)
    assert reg1.count() == reg2.count() == 117
    assert set(reg2.columns) >= {"entity_id", "rep_conv_id", "sig", "prefix_key", "syn_key"}


def test_stream_raises_on_timeout(spark, tmp_path, monkeypatch):
    """`cli stream` must not exit 0 when its query did not finish."""
    from addressparser_spark.streaming import incremental

    class Unfinished:
        stopped = False

        def awaitTermination(self, timeout):
            return False  # still running when the timeout elapsed

        def stop(self):
            self.stopped = True

    q = Unfinished()
    monkeypatch.setattr(incremental, "incremental_linkage", lambda *a, **k: q)
    with pytest.raises(TimeoutError):
        cli.main(["stream", "--input", str(tmp_path), "--output", str(tmp_path),
                  "--timeout", "1"])
    assert q.stopped


@pytest.mark.parametrize("cmd", ["link", "stream"])
def test_cli_raises_without_kernels(spark, tmp_path, monkeypatch, cmd):
    """Without the kernel jar `link` and `stream` raise before reading their
    input (which does not exist here), never falling back to other scoring."""
    from pyspark.sql.types import DoubleType

    from addressparser_spark import session

    monkeypatch.setattr(
        session, "_JVM_FUNCS", (("missing_java", "addressparser.DoesNotExist", DoubleType()),)
    )
    with pytest.raises(RuntimeError, match="jw-udf.jar"):
        cli.main([cmd, "--input", str(tmp_path / "missing"), "--output", str(tmp_path / "out")])
    assert not (tmp_path / "out").exists()


def _words(tag: str, n: int) -> str:
    return " ".join(f"{tag}{i}" for i in range(n))


def _transcripts(spark, convs: dict[str, list[str]]):
    """A transcripts frame with one row per turn of each ``conv_id -> texts``."""
    from datetime import datetime

    from addressparser_spark.streaming.incremental import TRANSCRIPT_SCHEMA

    ts = datetime(2024, 1, 1)
    rows = [
        (conv_id, i, ("user", "assistant")[i % 2], text, None, ts)
        for conv_id, texts in convs.items()
        for i, text in enumerate(texts)
    ]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def _chain(tag: str) -> dict[str, list[str]]:
    """Three conversations that share their first two turns, so prefix
    blocking makes them candidates, and whose matched graph is the chain
    a - b - c: ``a`` and ``c`` are each within containment 0.9 of ``b``, but
    not of each other, so node ``b`` is on both sides of an edge and
    connected components need at least one round."""
    head = [_words(f"{tag}h", 8), _words(f"{tag}g", 8)]
    x, y = _words(f"{tag}x", 40), _words(f"{tag}y", 40)
    return {
        f"{tag}_a": head + [x],
        f"{tag}_b": head + [x, y],
        f"{tag}_c": head + [y],
    }


def _link(tdir: str, out) -> None:
    cli.main(["link", "--input", tdir, "--output", str(out)])


def test_relink_into_used_output_recomputes_components(spark, tmp_path):
    """A second input linked into an output that already holds a finished
    link gets its own clusters, never the earlier input's components."""
    x_dir, y_dir = str(tmp_path / "x"), str(tmp_path / "y")
    _transcripts(spark, _chain("p")).write.parquet(x_dir)
    _transcripts(spark, _chain("q")).write.parquet(y_dir)

    out, fresh = tmp_path / "out", tmp_path / "fresh"
    _link(x_dir, out)
    _link(y_dir, out)
    _link(y_dir, fresh)

    def clusters(d):
        return {tuple(r) for r in spark.read.parquet(str(d / "clusters")).collect()}

    want = {("q_a", "q_a"), ("q_b", "q_a"), ("q_c", "q_a")}
    assert clusters(fresh) == want
    assert clusters(out) == want
    assert not (out / "cc_checkpoints").exists()


def test_stream_resolves_like_link_against_the_same_registry(spark, tmp_path):
    """A micro-batch resolves through the same cascade as ``cli link``: a
    conversation sharing only its ``prefix_key`` with an unlinked entity of
    an earlier batch takes that entity's id at stage 'prefix', in the
    stream and in a ``link`` against the first batch's registry alike."""
    from addressparser_spark.streaming.driver_queries import _stage_file
    from addressparser_spark.streaming.incremental import incremental_linkage

    head = [_words("sh", 8), _words("sg", 8)]
    # each batch also holds a linked pair (a conversation and its truncated
    # resumption), so it has candidate pairs
    batch1 = _transcripts(spark, {
        "s1_p": head + [_words("sp", 40)],
        "s1_r": [_words("sr", 30), _words("ss", 30)],
        "s1_r2": [_words("sr", 30)],
    })
    batch2 = _transcripts(spark, {
        "s2_q": head + [_words("sq", 40)],
        "s2_t": [_words("st", 30), _words("su", 30)],
        "s2_t2": [_words("st", 30)],
    })

    link_out = tmp_path / "link"
    for i, batch in enumerate((batch1, batch2)):
        d = str(tmp_path / f"batch{i}")
        batch.write.parquet(d)
        _link(d, link_out)
    linked = spark.read.parquet(str(link_out / "resolved"))

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, batch in enumerate((batch1, batch2)):
        _stage_file(batch, str(tmp_path / "stage"), in_dir, f"b{i}", i)
    out_dir = str(tmp_path / "stream_out")
    q = incremental_linkage(spark, in_dir, out_dir, str(tmp_path / "ck"))
    assert q.awaitTermination(300), "stream did not finish"
    streamed = spark.read.parquet(f"{out_dir}/epoch=1/resolved")

    def entities(df):
        return {r["conv_id"]: r["entity_id"] for r in df.collect()}

    assert entities(streamed) == entities(linked)
    p_entity = entities(spark.read.parquet(f"{out_dir}/epoch=0/resolved"))["s1_p"]
    assert entities(linked)["s2_q"] == p_entity

    def stages(df):
        return {r["conv_id"]: r["resolve_stage"] for r in df.collect()}

    assert stages(streamed) == stages(linked) == {
        "s2_q": "prefix", "s2_t": "new", "s2_t2": "new"
    }


def test_link_without_candidate_pairs(spark, tmp_path):
    """Two unrelated two-turn conversations share no blocking key, so the
    pipeline has no candidate pairs: its pair and score counts read 0 and
    each conversation is its own new entity."""
    tdir = str(tmp_path / "in")
    _transcripts(spark, {
        "u1": [_words("ua", 6), _words("ub", 6)],
        "u2": [_words("va", 6), _words("vb", 6)],
    }).write.parquet(tdir)
    _link(tdir, tmp_path / "out")
    m = json.loads(open(tmp_path / "out" / "metrics.json").read())
    assert m["turns.rows"] == 4
    assert (m["pairs.candidates"], m["scored.rows"], m["scored.matches"]) == (0, 0, 0)
    assert m["n_clusters"] == 2
    assert m["resolve_stages"] == {"new": 2}


def _one_file_input(spark, tmp_path) -> str:
    """A transcripts directory of one parquet file, so the stream over it
    runs one micro-batch over the same rows a ``link`` over it reads."""
    from addressparser_spark.data.synth import synth_transcripts
    from addressparser_spark.streaming.driver_queries import _stage_file

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _stage_file(synth_transcripts(spark, 40, seed=7), str(tmp_path / "stage"), in_dir, "b0", 0)
    return in_dir


def _stream(in_dir: str, out) -> None:
    cli.main(["stream", "--input", in_dir, "--output", str(out)])


def _entities(df) -> dict[str, str]:
    return {r["conv_id"]: r["entity_id"] for r in df.collect()}


def test_link_after_stream_resolves_against_its_registry(spark, tmp_path):
    """`stream` then `link` over one input into one --output: the link finds
    every conversation in the registry the stream extended, at 'sig', and
    the registry still holds every entity the stream registered."""
    in_dir = _one_file_input(spark, tmp_path)
    out = tmp_path / "out"
    _stream(in_dir, out)
    streamed = _entities(spark.read.parquet(str(out / "epoch=0" / "resolved")))

    _link(in_dir, out)
    m = json.loads(open(out / "metrics.json").read())
    assert m["resolve_stages"] == {"sig": len(streamed)}
    assert _entities(spark.read.parquet(str(out / "resolved"))) == streamed
    registered = {r["entity_id"] for r in _registry(spark, out).collect()}
    assert set(streamed.values()) <= registered


def test_stream_after_link_resolves_against_its_registry(spark, tmp_path):
    """`link` then `stream` over one input into one --output: the
    micro-batch resolves every conversation at 'sig' to the link's entity."""
    in_dir = _one_file_input(spark, tmp_path)
    out = tmp_path / "out"
    _link(in_dir, out)
    linked = _entities(spark.read.parquet(str(out / "resolved")))

    _stream(in_dir, out)
    streamed = spark.read.parquet(str(out / "epoch=0" / "resolved"))
    assert {r["resolve_stage"] for r in streamed.collect()} == {"sig"}
    assert _entities(streamed) == linked


def test_link_then_stream_keep_their_own_tables(spark, tmp_path):
    """`link` then `stream` into one --output: the link's tables stay at
    the top level and the micro-batch's sit under ``epoch=0``, so each
    reads back every row it wrote."""
    in_dir = _one_file_input(spark, tmp_path)
    out = tmp_path / "out"
    _link(in_dir, out)
    _stream(in_dir, out)
    assert spark.read.parquet(str(out / "resolved")).count() == 67
    assert spark.read.parquet(str(out / "epoch=0" / "resolved")).count() == 67
    assert sorted(p.name for p in (out / "epoch=0").iterdir()) == [
        "clusters", "dropped_blocks", "metrics.json", "resolved"
    ]


def test_stream_reports_dropped_blocks(spark, tmp_path):
    """A micro-batch of MAX_BLOCK_SIZE + 1 identical conversations and one
    other: the epoch's ``dropped_blocks`` lists every block of the
    identical group and its ``metrics.json`` counts them, as ``link``'s
    do."""
    from addressparser_spark.operators.pairs import MAX_BLOCK_SIZE
    from addressparser_spark.streaming.driver_queries import _stage_file

    dup = [
        "how do i reset my router password after the firmware update",
        "open the admin page choose security then pick reset password and confirm",
    ]
    other = [
        "what is the capital of australia and when was it chosen",
        "canberra was chosen as a compromise and became the capital in 1913",
    ]
    convs = {f"dup_{i:03d}": dup for i in range(MAX_BLOCK_SIZE + 1)} | {"other": other}
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _stage_file(_transcripts(spark, convs), str(tmp_path / "stage"), in_dir, "b0", 0)
    out = tmp_path / "out"
    _stream(in_dir, out)

    epoch = out / "epoch=0"
    dropped = spark.read.parquet(str(epoch / "dropped_blocks")).collect()
    assert len(dropped) == 10  # the sig, prefix and 8 MinHash band blocks
    assert {r["block_n"] for r in dropped} == {MAX_BLOCK_SIZE + 1}
    m = json.loads((epoch / "metrics.json").read_text())
    assert m["dropped_blocks"] == 10
    assert m["n_clusters"] == 2


def test_link_crash_before_pointer_flip_keeps_the_registry(spark, tmp_path, monkeypatch):
    """A `link` whose registry merge stops after it wrote its delta and
    before any rename (the compaction's pointer flip) leaves a registry that
    reads every earlier row and the crashed link's own; the next merge
    completes the compaction and removes the base the crash left behind."""
    from addressparser_spark.sources import registry_writer

    x_dir, y_dir = str(tmp_path / "x"), str(tmp_path / "y")
    _transcripts(spark, _chain("p")).write.parquet(x_dir)
    _transcripts(spark, _chain("q")).write.parquet(y_dir)
    out = tmp_path / "out"
    _link(x_dir, out)
    earlier = {tuple(r) for r in _registry(spark, out).collect()}

    class Crash(Exception):
        pass

    def crash(*_a, **_kw):
        raise Crash

    monkeypatch.setattr(registry_writer, "COMPACT_EVERY", 2, raising=False)
    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        m.setattr(os, "rename", crash)
        with pytest.raises(Crash):
            _link(y_dir, out)
    after = {tuple(r) for r in _registry(spark, out).collect()}
    assert earlier < after
    assert {r[1] for r in after} == {"p_a", "q_a"}  # each chain's entity

    _link(y_dir, out)
    assert {tuple(r) for r in _registry(spark, out).collect()} == after
    reg = out / "registry"
    assert sorted(p.name for p in reg.iterdir() if not p.name.startswith(".")) == [
        "_CURRENT", (reg / "_CURRENT").read_text()
    ]
