"""The editor pass (``edit.apply_edit_steps``) on both selection paths.

- Each editor's Python eligibility (tested in the kernel on the current
  value) equals the JVM eligibility expression the exact-k path uses.
- ``mess_data`` applying a run of editor rows in one Arrow pass gives the
  same dirty table and lineage as applying the registered editors one
  config row at a time, in both rng modes.
- The default program's output at a fixed seed is pinned on both paths.
  Its Bernoulli cell-edit stage holds one ``ArrowEvalPython``; on the
  exact-k path each editor row runs its UDF once.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rlerrorgenerator_spark.checkpoint import CheckpointManager
from rlerrorgenerator_spark.operators import ErrorConfigRow, driver, mess_data
from rlerrorgenerator_spark.operators.edit import EDIT_STEPS
from rlerrorgenerator_spark.pipeline import default_error_config

_EDITORS = {
    "indel": ("indel", {}),
    "repl_letters": ("repl", {}),
    "repl_digits": ("repl", {"charset": "digits"}),
    "repl_keyboard": ("repl", {"charset": "keyboard"}),
    "repl_ocr": ("repl", {"charset": "ocr"}),
    "tpose": ("tpose", {}),
}

_chars = st.characters(exclude_categories=("Cs",))
_values = st.one_of(
    st.none(),
    st.just(""),
    st.text(_chars, min_size=1, max_size=1),
    st.builds(lambda c, n: c * n, _chars, st.integers(2, 6)),  # one repeated char
    st.text("ABXYZ .-_!?", max_size=8),  # no confusable char
    st.text("aé€ü 𝔘😀𐍈1", max_size=8),  # non-ASCII and astral-plane chars
    st.text(_chars, max_size=12),
)


@settings(max_examples=40, deadline=None)
@given(st.lists(_values, min_size=1, max_size=40))
def test_python_eligibility_equals_jvm(spark, values):
    steps = {name: EDIT_STEPS[op](["v"], seed=1, stage="t", ts=1, rate=0.5, **kw)[0]
             for name, (op, kw) in _EDITORS.items()}
    df = spark.createDataFrame(list(enumerate(values)), "i int, v string")
    jvm = df.select("i", *[s.eligible_col("v").alias(n) for n, s in steps.items()]) \
        .orderBy("i").collect()
    for v, row in zip(values, jvm):
        for name, step in steps.items():
            py = v is not None and step.eligible(v)
            assert py == bool(row[name]), (name, v)


def _program(rng: str) -> list[ErrorConfigRow]:
    cfg = default_error_config()
    if rng == "md5":
        cfg = [ErrorConfigRow(r.error, r.amount, r.col_names,
                              {**r.kwargs, "rng": "md5"} if r.error in EDIT_STEPS
                              else r.kwargs)
               for r in cfg]
    return cfg


def _rows(df):
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()),
                  key=lambda r: tuple(map(str, r)))


@pytest.fixture(scope="module")
def pages_1k(spark):
    from rlerrorgenerator_spark.sources.pages import prep_pages, synth_pages

    return prep_pages(synth_pages(spark, 1000, seed=1)).drop("html") \
        .localCheckpoint(eager=True)


def _digest(df) -> str:
    cols = [F.col(c).cast("long").alias(c) if t == "timestamp" else F.col(c)
            for c, t in sorted(df.dtypes)]
    rows = sorted(repr(tuple(r)) for r in df.select(*cols).collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


# (counts, dirty digest, lineage digest) of the default program at seed 1
_PINNED = {
    False: ((1024, 329),
            "aecbb1833db4749fd47314cfbec3997a38d9ce025a0adb54f9de4be322a8fd60",
            "412e1a3eee383afecd7d1a05e15a49bbfb2fcb6e82e80cd74b600b70d4505816"),
    True: ((1040, 323),
           "7b6dc33da5b73eb538f4624fd215d5425307a7b30424d657b2da6e69ca97421b",
           "69b15195426c2a08f380392974b394d322691b13d20a07418a1949b6f367e148"),
}


@pytest.mark.parametrize("exact", [False, True], ids=["bernoulli", "exact_k"])
def test_default_program_output_is_pinned(spark, pages_1k, exact):
    """Digests of the default program's output on both selection paths:
    a change to how edits are selected, fused or recorded must reproduce
    them bit for bit."""
    dirty, lineage = mess_data(pages_1k, default_error_config(), seed=1, exact=exact)
    counts, dirty_digest, lineage_digest = _PINNED[exact]
    assert (dirty.count(), lineage.count()) == counts
    assert _digest(dirty) == dirty_digest
    assert _digest(lineage) == lineage_digest


@pytest.mark.parametrize("rng", ["xxhash", "md5"])
def test_fused_run_equals_per_row_editors(spark, pages_1k, monkeypatch, rng):
    dirty, lineage = mess_data(pages_1k, _program(rng), seed=1, exact=False)
    assert {r.error for r in lineage.select("error").distinct().collect()} >= {
        "indel", "repl_keyboard", "tpose", "repl_ocr"}
    fused = [_rows(dirty), _rows(lineage)]
    # without step builders, mess_data calls each registered editor on its
    # own config row (one kernel per row)
    monkeypatch.setattr(driver, "EDIT_STEPS", {})
    per_row = [_rows(t) for t in
               mess_data(pages_1k, _program(rng), seed=1, exact=False)]
    assert fused == per_row


class _RecordingManager(CheckpointManager):
    """Volatile manager that records the physical plan of each stage."""

    def __init__(self, spark):
        super().__init__(spark)
        self.plans: dict[str, str] = {}

    def stage(self, df, name, **kw):
        self.plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return super().stage(df, name, **kw)


@pytest.mark.parametrize("rng", ["xxhash", "md5"])
def test_cell_edit_stage_has_one_python_pass(spark, pages_1k, monkeypatch, rng):
    def arrow_evals():
        mgr = _RecordingManager(spark)
        mess_data(pages_1k, _program(rng), seed=1, exact=False, ckpt=mgr)
        # the last cell op (ts 7) stages the whole cell-edit chain once
        assert not any(n.startswith("dirty_cells") for n in mgr.plans)
        return mgr.plans["dirty_ts007"].count("ArrowEvalPython")

    assert arrow_evals() == 1
    monkeypatch.setattr(driver, "EDIT_STEPS", {})
    assert arrow_evals() == 3  # one per editor row the JVM cannot merge


def test_exact_path_runs_each_editor_once(spark, pages_1k):
    """Exact-k: each editor row crosses into Python once, in its own
    dirty stage; lineage rides in the staged rows, so no lineage stage is
    built (re-running the editors) before the row ops."""
    mgr = _RecordingManager(spark)
    mess_data(pages_1k, default_error_config(), seed=1, exact=True, ckpt=mgr)
    assert sum(p.count("ArrowEvalPython") for p in mgr.plans.values()) == 4
    names = list(mgr.plans)
    last_cell_op = names.index("dirty_ts007")  # the program has 7 cell ops
    assert not any(n.startswith("lineage_ts") for n in names[:last_cell_op])
