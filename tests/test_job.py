"""Submit-style job lifecycle tests (SURVEY.md §3.1-3.2 analogue):
validation, the three delivery strategies, epochs, pipe execution,
commit marker."""

from __future__ import annotations

import sys

import pytest

from tests.conftest import SF_SMOKE
from xlearning_spark.job import JobSpec, submit

_UPPER = [
    sys.executable,
    "-c",
    "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line.upper())",
]


@pytest.fixture()
def text_input(spark, tmp_path):
    p = str(tmp_path / "in")
    spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], ["value"]).coalesce(
        1
    ).write.text(p)
    return p


def test_validate_missing_input(spark):
    with pytest.raises(FileNotFoundError, match="matches no files"):
        submit(spark, JobSpec(inputs={"x": "/nonexistent/nowhere*"}))


def test_validate_existing_output_refused(spark, text_input, tmp_path):
    out = str(tmp_path / "out")
    spec = JobSpec(inputs={"t": text_input}, output=out)
    submit(spark, spec)
    with pytest.raises(FileExistsError, match="already exists"):
        submit(spark, spec)


def test_validate_bad_strategy(spark, text_input):
    with pytest.raises(ValueError, match="input_strategy"):
        submit(spark, JobSpec(inputs={"t": text_input}, input_strategy="TELEPORT"))


def test_stream_pipe_to_gzip_commit(spark, text_input, tmp_path):
    out = str(tmp_path / "out")
    res = submit(
        spark,
        JobSpec(inputs={"t": text_input}, command=_UPPER, output=out),
    )
    assert res.committed
    assert res.n_records_out == 3
    got = {r.value for r in spark.read.text(out).collect()}
    assert got == {"ALPHA", "BETA", "GAMMA"}
    # gzip codec actually applied (S7)
    import glob

    assert glob.glob(out + "/part-*.gz")


def test_stream_epochs_multiply_records(spark, text_input):
    res = submit(spark, JobSpec(inputs={"t": text_input}, epochs=3))
    assert res.n_records_out == 9


def test_epoch_cache_released_after_submit(spark, tmp_path):
    # A multi-epoch submit caches its input for its own epochs only.
    # Left live, the cache answered later submits over the same path
    # with the old file set: after a 4th file landed, a 2-epoch submit
    # read 6000 records and a 1-epoch submit 3000.
    src = tmp_path / "in"
    src.mkdir()

    def add_file(i):
        lines = "".join(f"f{i}-{j}\n" for j in range(1000))
        (src / f"part-{i}.txt").write_text(lines)

    for i in range(3):
        add_file(i)

    def run(epochs, name):
        spec = JobSpec(
            inputs={"t": str(src)},
            command=["cat"],
            epochs=epochs,
            output=str(tmp_path / name),
        )
        return submit(spark, spec).n_records_out

    assert run(2, "out1") == 6000
    add_file(3)
    assert run(2, "out2") == 8000
    assert run(1, "out3") == 4000


def test_placeholder_child_sees_file_list(spark, text_input, tmp_path):
    out = str(tmp_path / "out")
    child = [
        sys.executable,
        "-c",
        "import os, sys, json\n"
        "files = json.loads(os.environ['INPUT_FILE_LIST'])\n"
        "sys.stdin.read()\n"
        "print(len(files['t']))",
    ]
    res = submit(
        spark,
        JobSpec(
            inputs={"t": text_input},
            input_strategy="PLACEHOLDER",
            command=child,
            output=out,
            output_format="parquet",
        ),
    )
    assert res.committed
    vals = {int(r.line) for r in spark.read.parquet(out).collect()}
    assert vals == {len(res.input_files["t"])}
    assert len(res.input_files["t"]) >= 1


def test_placeholder_splits_file_list_per_worker(spark, tmp_path):
    # The reference AM assigns each container a private split of the
    # input files; every child must see ONLY its slice, and the slices
    # must partition the full set (disjoint + complete).
    src = tmp_path / "many"
    src.mkdir()
    for i in range(4):
        (src / f"f{i}.txt").write_text(f"line{i}\n")
    out = str(tmp_path / "out")
    child = [
        sys.executable,
        "-c",
        "import os, sys, json\n"
        "sys.stdin.read()\n"
        "for f in json.loads(os.environ['INPUT_FILE_LIST']).get('t', []):\n"
        "    print(os.environ['INDEX'] + '|' + f)",
    ]
    res = submit(
        spark,
        JobSpec(
            inputs={"t": str(src) + "/*.txt"},
            input_strategy="PLACEHOLDER",
            command=child,
            output=out,
            output_format="parquet",
            workers=2,
        ),
    )
    assert res.committed
    seen: dict[str, set[str]] = {}
    for r in spark.read.parquet(out).collect():
        idx, path = r.line.split("|", 1)
        seen.setdefault(idx, set()).add(path)
    assert set(seen) == {"0", "1"}  # both workers ran
    assert not (seen["0"] & seen["1"])  # disjoint slices
    assert seen["0"] | seen["1"] == set(res.input_files["t"])  # complete


def test_download_inventory(spark, tmp_path):
    d = tmp_path / "blobs"
    d.mkdir()
    (d / "a.bin").write_bytes(b"12345")
    (d / "b.bin").write_bytes(b"678")
    res = submit(
        spark, JobSpec(inputs={"b": str(d) + "/*"}, input_strategy="DOWNLOAD")
    )
    assert res.n_records_out == 2
    assert sorted(res.input_files["b"])[0].endswith("a.bin")


def test_stream_multi_input_unions_all_aliases(spark, tmp_path):
    p1, p2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    spark.createDataFrame([("a",), ("b",)], ["value"]).coalesce(1).write.text(p1)
    spark.createDataFrame([("c",)], ["value"]).coalesce(1).write.text(p2)
    res = submit(spark, JobSpec(inputs={"one": p1, "two": p2}))
    assert res.n_records_out == 3  # both aliases delivered, not just the first


# --------------------------------------------------------------------
# Attempt-level memory autoscale (r9 VERDICT item 2): the reference
# retries a failed app with worker memory scaled per attempt
# (AM/ApplicationMaster.java:289-318, hbox.worker.mem.autoscale
# doc/configure.md:81). The child below is the injected
# memory-conf-sensitive guard: it refuses to run under 1536 MB, so
# attempt 1 (base 1024) fails and attempt 2 (1024 + ceil(1024*0.5) =
# 1536) succeeds.
# --------------------------------------------------------------------

_MEM_GUARDED = [
    sys.executable,
    "-c",
    "import os, sys\n"
    "mem = int(os.environ['WORKER_MEMORY_MB'])\n"
    "if mem < 1536:\n"
    "    sys.stderr.write(f'OOM: {mem}MB insufficient\\n')\n"
    "    sys.exit(137)\n"
    "for line in sys.stdin:\n"
    "    sys.stdout.write(line.upper())",
]


def test_retry_policy_reference_arithmetic():
    from xlearning_spark.job import RetryPolicy

    pol = RetryPolicy(base_memory_mb=1024, autoscale=0.5, max_memory_mb=2048)
    # base + (k-1)*ceil(base*scale), capped at maxContainerMem (AM:290)
    assert [pol.memory_for_attempt(k) for k in (1, 2, 3, 4)] == [
        1024,
        1536,
        2048,  # 2560 capped
        2048,
    ]
    with pytest.raises(ValueError, match="1-based"):
        pol.memory_for_attempt(0)


def test_retry_scales_memory_until_guard_passes(spark, text_input, tmp_path):
    from xlearning_spark.job import RetryPolicy

    out = str(tmp_path / "out")
    res = submit(
        spark,
        JobSpec(
            inputs={"t": text_input},
            command=_MEM_GUARDED,
            output=out,
            retry=RetryPolicy(max_attempts=3),
        ),
    )
    assert res.attempts == 2
    assert res.worker_memory_mb == 1536
    assert res.committed
    got = {r.value for r in spark.read.text(out).collect()}
    assert got == {"ALPHA", "BETA", "GAMMA"}


def test_retry_exhausted_raises_and_scale_conf_restored(spark, text_input, tmp_path):
    from xlearning_spark.job import RetryPolicy

    # A guard no attempt can satisfy: bounded attempts exhaust and the
    # last execution error propagates; a scale_conf is scaled additively
    # from its ORIGINAL base each attempt (never compounding).
    key = "spark.xlearning.test.worker.mem"
    spark.conf.set(key, "100")
    never = [
        sys.executable,
        "-c",
        "import sys; sys.exit(1)",
    ]
    with pytest.raises(Exception):
        submit(
            spark,
            JobSpec(
                inputs={"t": text_input},
                command=never,
                output=str(tmp_path / "out"),
                retry=RetryPolicy(max_attempts=3, scale_confs=(key,)),
            ),
        )
    # attempt 3 ran at 100 + 2*ceil(100*0.5) = 200 — additive, not
    # 100*1.5^2=225 compounded
    assert spark.conf.get(key) == "200"


def test_retry_does_not_mask_validation_refusals(spark, tmp_path):
    from xlearning_spark.job import RetryPolicy

    # Deterministic client-side refusal: no retry, the error surfaces
    # unchanged on attempt 1 (Client.java:298-374 fails before any
    # attempt in the reference).
    with pytest.raises(FileNotFoundError, match="matches no files"):
        submit(
            spark,
            JobSpec(
                inputs={"x": "/nonexistent/nowhere*"},
                retry=RetryPolicy(max_attempts=5),
            ),
        )


def test_retry_cleans_uncommitted_output_between_attempts(
    spark, tmp_path
):
    from xlearning_spark.job import RetryPolicy

    # A child that fails only on attempt 1 AFTER emitting some lines:
    # the partial, uncommitted output (no _SUCCESS) must be removed so
    # attempt 2's no-clobber validation passes and the final output
    # holds ONLY attempt 2's rows (exactly-once at the job level — the
    # reference's staging->rename protocol gives the same guarantee).
    p = str(tmp_path / "in")
    spark.createDataFrame([(f"row{i}",) for i in range(8)], ["value"]).coalesce(
        1
    ).write.text(p)
    child = [
        sys.executable,
        "-c",
        "import os, sys\n"
        "n = 0\n"
        "for line in sys.stdin:\n"
        "    sys.stdout.write(line.lower())\n"
        "    sys.stdout.flush()\n"
        "    n += 1\n"
        "if os.environ['APP_ATTEMPT_ID'] == '1':\n"
        "    sys.exit(143)\n",
    ]
    out = str(tmp_path / "out")
    res = submit(
        spark,
        JobSpec(
            inputs={"t": p},
            command=child,
            output=out,
            retry=RetryPolicy(max_attempts=2),
        ),
    )
    assert res.attempts == 2
    assert res.committed
    assert res.n_records_out == 8  # attempt 1's partial rows are gone


# ----------------------------------------------------- RetryPolicy math

from hypothesis import given, settings, strategies as st


@settings(max_examples=300, deadline=None)
@given(
    base=st.integers(min_value=1, max_value=64 * 1024),
    autoscale=st.floats(min_value=0.0, max_value=4.0,
                        allow_nan=False, allow_infinity=False),
    cap=st.integers(min_value=1, max_value=256 * 1024),
    attempt=st.integers(min_value=1, max_value=20),
)
def test_retry_memory_autoscale_properties(base, autoscale, cap, attempt):
    # The reference's arithmetic (AM:290): additive from the BASE per
    # attempt — base + (k-1)*ceil(base*autoscale) — then the container
    # cap. Property-checked: attempt 1 is the (capped) base, memory is
    # nondecreasing in the attempt number, never exceeds the cap, and
    # each uncapped step adds exactly ceil(base*autoscale) (additive,
    # never compounding).
    import math

    from xlearning_spark.job import RetryPolicy

    pol = RetryPolicy(
        max_attempts=attempt,
        autoscale=autoscale,
        base_memory_mb=base,
        max_memory_mb=cap,
    )
    step = math.ceil(base * autoscale)
    mems = [pol.memory_for_attempt(k) for k in range(1, attempt + 1)]
    assert mems[0] == min(base, cap)
    assert all(m <= cap for m in mems)
    assert all(b >= a for a, b in zip(mems, mems[1:]))
    for k, (a, b) in enumerate(zip(mems, mems[1:]), start=2):
        if b < cap:  # uncapped step: exact additive increment
            assert b - a == step
    with pytest.raises(ValueError, match="1-based"):
        pol.memory_for_attempt(0)
