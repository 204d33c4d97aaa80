"""The JVM scoring kernels: parity with the Python reference and DuckDB.

Pairwise scoring runs only on the kernels in ``jars/jw-udf.jar``: the fused
``text_sim_java`` ([lev_sim, jw], java/TextSim.java) and the merge-walk
``intersect_count_java``. The driver oracle compares against DuckDB, so the
kernel's Jaro-Winkler must equal both ``jaro_winkler_py`` and DuckDB's
``jaro_winkler_similarity`` bit-for-bit.

Scope note: JVM == Python holds for ALL Unicode (both are codepoint-based).
DuckDB's ``jaro_winkler_similarity`` walks UTF-8 *bytes*, so its value
diverges on multi-byte characters — the three-way check therefore runs on
ASCII (byte == codepoint), which is what the scoring path feeds it
(normalized transcript text; the r01 driver hash over real data confirms).
"""

from __future__ import annotations

import hashlib
import os
import random
import string
import zipfile

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from addressparser_spark import session
from addressparser_spark.functions.similarity import jaro_winkler_py
from addressparser_spark.session import (
    INTERSECT_FUNC, JW_JAR, TEXTSIM_FUNC, kernel, register_kernels,
)


def _random_pairs(n: int, seed: int = 7, alphabet: str | None = None) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    if alphabet is None:
        alphabet = string.ascii_lowercase + " 0123456789"
    pairs = []
    for _ in range(n):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 96)))
        if rng.random() < 0.5:
            # mutated copy: the regime where window/transposition logic matters
            b = list(a)
            for _ in range(rng.randint(0, 8)):
                if not b:
                    break
                op = rng.randint(0, 2)
                i = rng.randrange(len(b))
                if op == 0:
                    b[i] = rng.choice(alphabet)
                elif op == 1:
                    del b[i]
                else:
                    b.insert(i, rng.choice(alphabet))
            b = "".join(b)
        else:
            b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 96)))
        pairs.append((a, b))
    pairs += [("", ""), ("a", ""), ("", "a"), ("abc", "abc"), ("ab", "ba")]
    return pairs


def _kernel_jw(
    spark, pairs: list[tuple[str | None, str | None]]
) -> dict[tuple[str | None, str | None], float]:
    # the jw column exactly as score_pairs derives it, before rounding
    df = spark.createDataFrame(pairs, "a string, b string")
    jw = F.coalesce(F.call_function(TEXTSIM_FUNC, "a", "b")[1], F.lit(0.0))
    return {(r["a"], r["b"]): r["jw"] for r in df.select("a", "b", jw.alias("jw")).collect()}


def test_jvm_matches_python_and_duckdb_ascii(spark):
    pairs = _random_pairs(400)
    got = _kernel_jw(spark, pairs)
    con = duckdb.connect()
    for a, b in pairs:
        py = jaro_winkler_py(a, b)
        duck = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert got[(a, b)] == py, (a, b, got[(a, b)], py)
        if a == "" and b == "":
            # engine: identical strings -> 1.0; DuckDB: empty -> 0.0. The
            # scoring path never feeds two empty capped texts (profiles of
            # empty convs don't pair), so this divergence is unreachable.
            continue
        assert py == duck, (a, b, py, duck)


def test_jvm_matches_python_unicode(spark):
    """Codepoint semantics: JVM == Python on multi-byte text too (DuckDB is
    byte-based and intentionally excluded here)."""
    pairs = _random_pairs(200, seed=11, alphabet=string.ascii_lowercase + " éüñ文𝕏")
    got = _kernel_jw(spark, pairs)
    for a, b in pairs:
        assert got[(a, b)] == jaro_winkler_py(a, b), (a, b)


def test_intersect_kernel_matches_catalyst(spark):
    """Merge-walk intersect == size(array_intersect) on random sorted sets."""
    from addressparser_spark.session import INTERSECT_FUNC

    rng = random.Random(13)
    rows = []
    for _ in range(300):
        a = sorted({rng.randint(-2**62, 2**62) for _ in range(rng.randint(0, 40))})
        # overlap-biased second set: half drawn from a, half fresh
        b = sorted(
            {x for x in a if rng.random() < 0.5}
            | {rng.randint(-2**62, 2**62) for _ in range(rng.randint(0, 40))}
        )
        rows.append((a, b))
    rows += [([], []), ([], [1]), ([1, 2, 3], [1, 2, 3])]
    df = spark.createDataFrame(rows, "a array<bigint>, b array<bigint>")
    bad = df.select(
        F.call_function(INTERSECT_FUNC, "a", "b").alias("jvm"),
        F.size(F.array_intersect("a", "b")).alias("cat"),
    ).filter(F.col("jvm") != F.col("cat"))
    assert bad.count() == 0


def test_jvm_null_semantics(spark):
    """The kernel jw column is 0.0 when either text is null."""
    got = _kernel_jw(spark, [("x", None), (None, None)])
    assert list(got.values()) == [0.0, 0.0]


def _null_contract_frames(spark):
    profiles = spark.createDataFrame(
        [("c1", "s1", [1, 2], "ab", 1), ("c2", "s2", [2, 3], "ba", 1),
         ("c3", "s3", [3], None, 1), ("c4", "s4", [], "", 1), ("c5", "s5", [], "", 1)],
        "conv_id string, sig string, sh_hash array<bigint>, concat_text string, n_turns int",
    )
    pairs = spark.createDataFrame(
        [("c1", "c2"), ("c1", "c3"), ("c3", "c3"), ("c4", "c5")], ["conv_a", "conv_b"]
    )
    return pairs, profiles


def test_fused_kernel_null_parity(spark):
    """score_pairs keeps the fused kernel's null contract: lev_sim is null
    and jw is 0.0 for a null text, and both are the kernel values rounded to
    6 places otherwise."""
    from addressparser_spark.operators import scoring

    pairs, profiles = _null_contract_frames(spark)
    got = {
        (r["conv_a"], r["conv_b"]): (r["lev_sim"], r["jw"])
        for r in scoring.score_pairs(pairs, profiles, broadcast_profiles=True).collect()
    }
    assert got[("c1", "c3")] == (None, 0.0)
    assert got[("c3", "c3")] == (None, 0.0)
    assert got[("c1", "c2")] == (0.0, round(jaro_winkler_py("ab", "ba"), 6))
    assert got[("c4", "c5")] == (1.0, 1.0)


def test_score_pairs_registers_kernels_in_any_session(spark, monkeypatch):
    """A session that never registered the kernels (as a driver-built one)
    still scores when the jar is on its classpath, and raises naming the jar
    when a kernel does not load."""
    import __spark_entry__
    from addressparser_spark.operators import scoring

    fresh = spark.newSession()
    assert not fresh.catalog.functionExists(TEXTSIM_FUNC)
    scored = __spark_entry__.queries()["er_scored_pairs"](fresh, "/root/testdata/sf0.001")
    assert scored.count() > 0

    monkeypatch.setattr(
        session, "_JVM_FUNCS", (("missing_java", "addressparser.DoesNotExist", DoubleType()),)
    )
    pairs, profiles = _null_contract_frames(spark.newSession())
    with pytest.raises(RuntimeError, match="jw-udf.jar"):
        scoring.score_pairs(pairs, profiles)


def test_kernels_register_once_per_session(spark, monkeypatch):
    """The first kernel column in a session registers the kernels; a second
    one finds them and calls registerJavaFunction 0 times."""
    from pyspark.sql.udf import UDFRegistration

    calls = []
    register = UDFRegistration.registerJavaFunction

    def counting(self, name, *args, **kwargs):
        calls.append(name)
        return register(self, name, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "registerJavaFunction", counting)
    fresh = spark.newSession()
    kernel(fresh, TEXTSIM_FUNC, F.lit("a"), F.lit("b"))
    assert sorted(calls) == sorted(name for name, _, _ in session._JVM_FUNCS)
    calls.clear()
    kernel(fresh, INTERSECT_FUNC, F.array(F.lit(1)), F.array(F.lit(1)))
    assert calls == []


def test_register_kernels_raises_without_kernel_class(spark, monkeypatch):
    """A session that cannot load a kernel fails loudly, naming the jar."""
    monkeypatch.setattr(
        session, "_JVM_FUNCS", (("missing_java", "addressparser.DoesNotExist", DoubleType()),)
    )
    with pytest.raises(RuntimeError, match="jw-udf.jar"):
        register_kernels(spark)


def test_committed_jar_matches_sources():
    """The committed jar was built from the current java/*.java: its
    SOURCES.sha256 manifest (written by java/build.sh) matches every source's
    hash, and it holds one class per source. A source added, removed or
    edited without rerunning java/build.sh fails here."""
    java_dir = os.path.join(os.path.dirname(__file__), "..", "java")
    sources = sorted(f for f in os.listdir(java_dir) if f.endswith(".java"))
    want = {}
    for f in sources:
        with open(os.path.join(java_dir, f), "rb") as fh:
            want[f] = hashlib.sha256(fh.read()).hexdigest()
    with zipfile.ZipFile(JW_JAR) as z:
        manifest = z.read("SOURCES.sha256").decode()
        classes = {
            n[len("addressparser/") : -len(".class")]
            for n in z.namelist()
            if n.startswith("addressparser/") and n.endswith(".class")
        }
    built = {name: digest for digest, name in (ln.split() for ln in manifest.splitlines())}
    assert built == want
    assert classes == {f[: -len(".java")] for f in sources}


def test_score_pairs_uses_jvm_path(spark):
    """The scoring plan contains no Python/Arrow eval."""
    from addressparser_spark.data.transcripts import transcripts_df
    from addressparser_spark.operators import blocking, scoring

    t = transcripts_df(spark, "/root/testdata/sf0.001")
    p = blocking.conv_profiles(blocking.normalize_turns(t))
    pair = spark.createDataFrame([("conv_000001", "conv_000002")], ["conv_a", "conv_b"])
    scored = scoring.score_pairs(pair, p, broadcast_profiles=True)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
