"""Submit-style batch-job API: the engine's `hbox-submit` analogue
(SURVEY.md §7 architecture item 3).

One call reproduces the reference's job lifecycle
(client/Client.java submit -> AM plan -> container execute -> commit,
SURVEY.md §3.1-3.2) on Spark:

  1. validate  — inputs must exist, output must not
     (Client.java:298-374's checks);
  2. deliver   — DOWNLOAD (whole-file rows), PLACEHOLDER (path list in
     the child's INPUT_FILE_LIST env), or STREAM (line records piped
     to the child), per doc/datamanage_cn.md:6-60;
  3. execute   — the user command over stdin/stdout lines with the
     reference env contract (INDEX per partition), multi-epoch with
     cache (HboxContainer.java:1145-1257, 1158-1199);
  4. commit    — gzip-text or parquet sink through Spark's
     FileOutputCommitter (the reference's staging->rename->_SUCCESS
     protocol, ApplicationMaster.java:3106-3172).

Everything composes the per-capability operators (sources.delivery,
operators.pipe, operators.sharding, sources.sinks) — this module adds
only the lifecycle, no new data-plane code.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xlearning_spark.engine import intermediates
from xlearning_spark.operators.pipe import pipe_lines
from xlearning_spark.operators.sharding import epoch_replay, round_robin_assignment
from xlearning_spark.sources import table_exists
from xlearning_spark.sources.delivery import glob_files, read_download, read_records
from xlearning_spark.sources.sinks import is_committed, write_gzip_text, write_parquet

_STRATEGIES = ("DOWNLOAD", "PLACEHOLDER", "STREAM")
_FORMATS = ("text.gz", "parquet")


@dataclass
class RetryPolicy:
    """Attempt-level memory autoscale — the reference's app-retry
    behavior (AM/ApplicationMaster.java:289-318): when YARN restarts
    the AM as attempt k > 1 (and hbox.app.max.attempts > 1), worker
    memory becomes ``base + (k-1) * ceil(base * autoscale)`` capped at
    the cluster's max container memory; the autoscale ratio is
    ``hbox.worker.mem.autoscale`` (default 0.5, doc/configure.md:81 —
    so attempt 2 runs at 1.5x base).

    Spark analogue: executor memory is immutable for a live session,
    so the scaled value is delivered where this engine's worker
    actually runs — (a) exported to the piped child process's env as
    ``mem_env`` (the reference's container-launch env carrying worker
    memory, HboxContainer launch context) and (b) applied to any
    RUNTIME-SETTABLE session confs named in ``scale_confs`` (each is
    read as an integer at first submit and rewritten scaled on every
    retry). Deterministic client-side refusals (validation errors)
    never retry — only execution failures do, matching the reference
    where Client.java validation kills the app before attempt 1.
    """

    max_attempts: int = 2
    autoscale: float = 0.5  # hbox.worker.mem.autoscale default
    base_memory_mb: int = 1024  # hbox.worker.memory analogue
    max_memory_mb: int = 16 * 1024  # maxContainerMem analogue
    mem_env: str = "WORKER_MEMORY_MB"  # child env carrying the value
    scale_confs: tuple[str, ...] = ()  # session confs scaled in lockstep

    def memory_for_attempt(self, attempt: int) -> int:
        """The reference's exact arithmetic, AM:290 — additive from the
        BASE per attempt (not compounding), then the container cap."""
        if attempt < 1:
            raise ValueError("attempt is 1-based")
        mem = self.base_memory_mb + (attempt - 1) * math.ceil(
            self.base_memory_mb * self.autoscale
        )
        return min(mem, self.max_memory_mb)


@dataclass
class JobSpec:
    """Declarative job description — the ClientArguments analogue."""

    inputs: dict[str, str]  # alias -> path or glob
    command: list[str] | None = None  # child argv (None = identity)
    input_strategy: str = "STREAM"
    output: str | None = None
    output_format: str = "text.gz"
    epochs: int = 1
    env: dict[str, str] = field(default_factory=dict)
    #: PLACEHOLDER worker count (the reference's --worker-num); None ->
    #: one worker per default-parallelism slot, capped by file count.
    workers: int | None = None
    #: Opt-in attempt retry with memory autoscale (None = single shot,
    #: the reference's hbox.app.max.attempts=1 default).
    retry: RetryPolicy | None = None


@dataclass
class JobResult:
    output_path: str | None
    n_records_out: int
    committed: bool
    input_files: dict[str, list[str]]
    #: 1-based attempt that succeeded (always 1 without a RetryPolicy).
    attempts: int = 1
    #: Worker memory (MB) of the successful attempt, if retry was set.
    worker_memory_mb: int | None = None


def _validate(spark: SparkSession, spec: JobSpec) -> dict[str, list[str]]:
    if spec.input_strategy not in _STRATEGIES:
        raise ValueError(f"input_strategy must be one of {_STRATEGIES}")
    if spec.output_format not in _FORMATS:
        raise ValueError(f"output_format must be one of {_FORMATS}")
    if spec.epochs < 1:
        raise ValueError("epochs must be >= 1")
    def _visible(fs: list[str]) -> list[str]:
        # Drop _SUCCESS/.hidden entries: Hadoop's record readers skip
        # them, so the PLACEHOLDER list must match what STREAM reads.
        return [f for f in fs if not os.path.basename(f).startswith(("_", "."))]

    files = {alias: _visible(glob_files(spark, p)) for alias, p in spec.inputs.items()}
    for alias, fs in files.items():
        if not fs:
            raise FileNotFoundError(
                f"input {alias!r} matches no files: {spec.inputs[alias]}"
            )
    if spec.output is not None and table_exists(spark, spec.output):
        # The reference refuses to clobber outputs (Client.java:298-302).
        raise FileExistsError(f"output already exists: {spec.output}")
    return files


def _remove_uncommitted_output(spark: SparkSession, path: str | None) -> None:
    """Delete a partially-written output (no ``_SUCCESS``) so the next
    attempt's no-clobber validation passes — the reference's retried AM
    likewise starts against a clean staging dir (its failed attempt
    never renamed into place, ApplicationMaster.java:3106-3172). A
    COMMITTED output is never touched: if ``_SUCCESS`` exists the job
    cannot have failed after commit for lack of output, and clobbering
    user data on a retry would be worse than failing."""
    if path is None:
        return
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(p) and not is_committed(path, spark):
        fs.delete(p, True)


def submit(spark: SparkSession, spec: JobSpec) -> JobResult:
    """Run the full job lifecycle; returns counts + commit status.

    With ``spec.retry`` set, execution failures re-run the lifecycle at
    reference-scaled worker memory (RetryPolicy docstring); validation
    refusals (bad spec, missing input, existing output) raise
    immediately on attempt 1 with no retry."""
    if spec.retry is None:
        return _submit_once(spark, spec)
    pol = spec.retry
    if pol.max_attempts < 1:
        raise ValueError("retry.max_attempts must be >= 1")
    last_err: Exception | None = None
    # Bases are captured ONCE: the reference scales additively from the
    # original hbox.worker.memory each attempt, never compounding.
    conf_bases = {k: int(spark.conf.get(k)) for k in pol.scale_confs}
    for attempt in range(1, pol.max_attempts + 1):
        mem = pol.memory_for_attempt(attempt)
        env = dict(spec.env)
        env[pol.mem_env] = str(mem)
        env["APP_ATTEMPT_ID"] = str(attempt)  # container env analogue
        for key, base in conf_bases.items():
            scaled = min(
                base + (attempt - 1) * math.ceil(base * pol.autoscale),
                # cap in proportion to the memory cap
                math.ceil(base * pol.max_memory_mb / pol.base_memory_mb),
            )
            spark.conf.set(key, str(scaled))
        try:
            result = _submit_once(spark, replace(spec, env=env, retry=None))
            return replace(result, attempts=attempt, worker_memory_mb=mem)
        except (ValueError, FileNotFoundError, FileExistsError):
            # Deterministic client-side refusal (Client.java:298-374
            # analogue): retrying cannot change the verdict. NOTE: these
            # can only originate from _validate on attempt 1 — attempt
            # 2+ reuses the identical spec, and the uncommitted-output
            # cleanup below keeps the no-clobber check passable.
            raise
        except Exception as e:  # execution failure -> scaled retry
            last_err = e
            if attempt == pol.max_attempts:
                raise
            _remove_uncommitted_output(spark, spec.output)
    raise last_err  # unreachable; keeps type-checkers honest


def _submit_once(spark: SparkSession, spec: JobSpec) -> JobResult:
    files = _validate(spark, spec)

    def _union_all(parts: list[DataFrame]) -> DataFrame:
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        return out

    if spec.input_strategy == "DOWNLOAD":
        # Whole files as rows; the command (if any) sees one line per
        # file: "<path>\t<length>" — the localized-file inventory.
        # Every alias contributes (the reference feeds all -input
        # aliases to the container).
        rows: DataFrame = _union_all(
            [
                read_download(spark, p).select(
                    F.concat_ws(
                        "\t", F.col("path"), F.col("length").cast("string")
                    ).alias("line")
                )
                for p in spec.inputs.values()
            ]
        )
    elif spec.input_strategy == "PLACEHOLDER":
        # Per-container assignment (ApplicationMaster.java:971-1041):
        # each alias's files are split round-robin over the workers, and
        # partition w carries exactly worker w's files — both as stdin
        # lines and as its private INPUT_FILE_LIST slice. The reference
        # never ships the full catalog to every container; neither do we.
        n_files_max = max(len(fs) for fs in files.values())
        n_workers = spec.workers or max(
            1, min(spark.sparkContext.defaultParallelism, n_files_max)
        )
        assignment: dict[int, dict[str, list[str]]] = {}
        for alias, fs in files.items():
            for w, flist in round_robin_assignment(fs, n_workers).items():
                if flist:
                    assignment.setdefault(w, {})[alias] = flist
        rows = spark.createDataFrame(
            spark.sparkContext.parallelize(range(n_workers), n_workers).flatMap(
                lambda w: [
                    (f,)
                    for fs_ in assignment.get(w, {}).values()
                    for f in fs_
                ]
            ),
            "line string",
        )
    else:  # STREAM
        rows = _union_all(
            [
                read_records(spark, p).withColumnRenamed("value", "line")
                for p in spec.inputs.values()
            ]
        )

    # The submit is one intermediates scope: epoch_replay's DISK_ONLY
    # input cache lives for this submit only (the reference's epoch-0
    # tee dies with its container). Left live, a later submit over the
    # same root path is answered from it: Spark's cache lookup matches
    # the plan, not the file listing, so files added since go unread.
    with intermediates():
        if spec.epochs > 1:
            rows = epoch_replay(rows, spec.epochs).drop("epoch")
        if spec.command is not None:
            placeholder = spec.input_strategy == "PLACEHOLDER" and spec.epochs == 1
            out = pipe_lines(
                rows,
                spec.command,
                env=spec.env,
                # Epoch replay unions partitions, so the per-partition split
                # only holds in the single-epoch case; multi-epoch falls
                # back to the broadcast map (P3 shape).
                input_files_by_partition=assignment if placeholder else None,
                input_files=(
                    files
                    if spec.input_strategy == "PLACEHOLDER" and not placeholder
                    else None
                ),
                out_col="line",
            )
        else:
            out = rows

        if spec.output is None:
            return JobResult(None, out.count(), False, files)

        if spec.output_format == "parquet":
            write_parquet(out, spec.output)
        else:
            write_gzip_text(out.select(F.col("line").cast("string")), spec.output)
        n = spark.read.parquet(spec.output).count() if spec.output_format == "parquet" else spark.read.text(spec.output).count()
        return JobResult(spec.output, n, is_committed(spec.output, spark), files)
