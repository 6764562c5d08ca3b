"""MR-compat contract tests: tab codec (tabless drop), concat-stream reducer
semantics, pipe mode with real executables, and parity between the compat
word count and the DataFrame-native flagship query."""

from __future__ import annotations

import os
import re
import stat
import subprocess
import sys
import textwrap
import time
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from gridmr_spark.compat import (
    parse_tab_kv,
    pipe_job,
    run_job,
    wordcount_map,
    wordcount_reduce,
)
from gridmr_spark.operators.text import word_count


def test_tab_codec_reference_semantics():
    lines = ["a\t1", "no_tab_dropped", "b\tx\ty", "\tempty_key", ""]
    assert list(parse_tab_kv(lines)) == [
        ("a", "1"),
        ("b", "x\ty"),  # only the FIRST tab splits (mapper.cc:87-90)
        ("", "empty_key"),
    ]


def test_run_job_wordcount_matches_dataframe_flagship(spark, sf_oracle):
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    mr = run_job(spark, docs.select("text"), wordcount_map, wordcount_reduce, n_reducers=4)
    mr_counts = dict(parse_tab_kv(r.value for r in mr.collect()))
    df_counts = {r.word: r.cnt for r in word_count(docs, "text").collect()}
    assert {k: int(v) for k, v in mr_counts.items()} == df_counts


def test_run_job_key_colocation(spark):
    """Every key must land in exactly one reducer partition (A5 contract)."""
    lines = spark.createDataFrame([(f"k{i % 5}\t1",) for i in range(100)], ["value"])
    seen: dict[str, set[int]] = {}

    def reduce_with_partition_id(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for k, v in parse_tab_kv(it):
            yield f"{k}\t{pid}"

    out = run_job(spark, lines, lambda line: [line], reduce_with_partition_id, n_reducers=3)
    for k, pid in parse_tab_kv(r.value for r in out.collect()):
        seen.setdefault(k, set()).add(int(pid))
    assert all(len(pids) == 1 for pids in seen.values()), seen


def _contract_model(lines: list[str], split) -> list[str]:
    """Pure-Python GridMR contract for a mapper that cuts each line into
    pieces with ``split``: each piece has its trailing newlines stripped,
    pieces without a tab are dropped, and the survivors reach the reducers
    unchanged."""
    kept = (piece.rstrip("\n") for line in lines for piece in split(line))
    return [kv for kv in kept if "\t" in kv]


# Each entry point with an identity reducer, a mapper, and how that
# mapper cuts a line. The callable splits on ``|``; ``cat`` copies the line
# into a byte stream, where its inner newlines end lines.
_ENTRY_POINTS = {
    "run_job": (
        lambda spark, src, n: run_job(spark, src, lambda line: line.split("|"), iter, n),
        lambda line: line.split("|"),
    ),
    "pipe_job": (
        lambda spark, src, n: pipe_job(spark, src, "cat", "cat", n),
        lambda line: line.rstrip("\n").split("\n"),
    ),
}


@pytest.mark.parametrize("entry", sorted(_ENTRY_POINTS))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    lines=st.lists(
        st.lists(st.text(alphabet="ab\t\n", max_size=6), min_size=1, max_size=4).map("|".join),
        max_size=25,
    ),
    n_reducers=st.integers(1, 4),
)
def test_job_matches_contract_model(spark, entry, lines, n_reducers):
    """Tabless lines dropped, first tab splits, trailing newlines stripped,
    each key in exactly one reducer partition, output = UNION ALL of the
    reducer outputs — for both entry points."""
    build, split = _ENTRY_POINTS[entry]
    src = spark.createDataFrame([(line,) for line in lines], "value string")
    out = build(spark, src, n_reducers).select(F.spark_partition_id().alias("pid"), "value")
    rows = out.collect()
    assert Counter(r.value for r in rows) == Counter(_contract_model(lines, split))
    pids_by_key: dict[str, set[int]] = {}
    for r in rows:
        pids_by_key.setdefault(r.value.split("\t", 1)[0], set()).add(r.pid)
    assert all(len(p) == 1 and p <= set(range(n_reducers)) for p in pids_by_key.values())


def test_run_job_one_reduce_call_across_arrow_batches(spark):
    """A reducer partition larger than one Arrow batch is still ONE
    reduce_fn call over the whole stream, and output longer than one
    output batch comes back whole."""
    n = 25_000
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert n > 2 * per_batch  # the partition must span several input batches
    src = spark.range(n).selectExpr("concat('k', CAST(id % 7 AS STRING), '\t1') AS kv")

    def echo_and_count(it):
        seen = 0
        for line in it:
            seen += 1
            yield line
        yield f"__lines__\t{seen}"

    rows = [r.value for r in run_job(spark, src, lambda line: [line], echo_and_count, 1).collect()]
    assert [r for r in rows if r.startswith("__lines__")] == [f"__lines__\t{n}"]
    assert len(rows) == n + 1


def _wordcount_inputs(spark, tmp_path):
    text = ["Hello world", "hello Spark", "", "WORLD of spark"]
    path = tmp_path / "input.txt"
    path.write_text("\n".join(text) + "\n")
    return {
        "path": str(path),
        "dataframe": spark.createDataFrame([(t,) for t in text], ["text"]),
        "rdd": spark.sparkContext.parallelize(text),
    }


def test_run_job_input_forms(spark, tmp_path):
    expected = {"hello": 2, "world": 2, "spark": 2, "of": 1}
    for form, source in _wordcount_inputs(spark, tmp_path).items():
        out = run_job(spark, source, wordcount_map, wordcount_reduce, n_reducers=3)
        assert {k: int(v) for k, v in parse_tab_kv(r.value for r in out.collect())} == expected, form
    two_cols = spark.createDataFrame([("a b", "c")], ["x", "y"])
    with pytest.raises(ValueError, match="exactly one"):
        run_job(spark, two_cols, wordcount_map, wordcount_reduce)


@pytest.mark.parametrize("entry", ["run_job", "pipe_job"])
def test_job_is_lazy_and_leaves_session_conf_alone(spark, tmp_path, entry):
    """Building the job DataFrame launches no Spark job (no schema
    inference) and changes no session conf; the caller's action runs it."""
    build = {
        "run_job": lambda src: run_job(spark, src, wordcount_map, wordcount_reduce, 2),
        "pipe_job": lambda src: pipe_job(spark, src, r"sed 's/$/\t1/'", "cat", 2),
    }[entry]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    conf_before = dict(spark.conf.getAll)
    try:
        sc.setJobGroup("run_job_build", "build only")
        built = [build(source) for source in _wordcount_inputs(spark, tmp_path).values()]
        sc.setJobGroup("run_job_action", "collect")
        assert len(built[0].collect()) == 4
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # Listener events arrive in order: once the action's jobs are visible,
    # any job started while building would be too.
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("run_job_action") and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("run_job_action")
    assert tracker.getJobIdsForGroup("run_job_build") == []
    assert dict(spark.conf.getAll) == conf_before


def test_workers_import_package_from_any_cwd(tmp_path, sf_smoke):
    """A driver started outside the checkout, with the checkout only on its
    own sys.path (not on PYTHONPATH), can still run jobs whose Python
    workers unpickle gridmr_spark functions: run_job's word count and a
    mapInPandas registry query."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""\
        import sys
        sys.path.insert(0, {repo!r})
        from gridmr_spark import get_spark
        from gridmr_spark.compat import parse_tab_kv, run_job, wordcount_map, wordcount_reduce
        from gridmr_spark.queries import load_all

        spark = get_spark("foreign_cwd", cpus=2)
        src = spark.sparkContext.parallelize(["to be or", "not to be"])
        out = run_job(spark, src, wordcount_map, wordcount_reduce, n_reducers=2)
        counts = {{k: int(v) for k, v in parse_tab_kv(r.value for r in out.collect())}}
        assert counts == {{"to": 2, "be": 2, "or": 1, "not": 1}}, counts
        assert load_all()["text_bpe_tokenize"].fn(spark, {sf_smoke!r}).count() > 0
        spark.stop()
        print("FOREIGN_CWD_OK")
        """
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != os.path.realpath(repo)
    )
    # Files, not pipes: the script's Spark JVM inherits them, and reading a
    # pipe to its end would also wait for that JVM to exit.
    out_path, err_path = tmp_path / "stdout.txt", tmp_path / "stderr.txt"
    with open(out_path, "w") as out, open(err_path, "w") as err:
        subprocess.run(
            [sys.executable, "-c", script], cwd=tmp_path, env=env,
            stdout=out, stderr=err, timeout=300,
        )
    assert "FOREIGN_CWD_OK" in out_path.read_text(), err_path.read_text()[-3000:]


def _wordcount_executables(tmp_path):
    """A shell mapper emitting `word\t1` and the command of a python reducer
    accumulating a hash map."""
    mapper = tmp_path / "map.sh"
    mapper.write_text(
        '#!/bin/sh\ntr "[:upper:]" "[:lower:]" | tr -cs "a-z0-9" "\\n" | '
        'while read -r w; do [ -n "$w" ] && printf "%s\\t1\\n" "$w"; done\n'
    )
    reducer = tmp_path / "reduce.py"
    reducer.write_text(
        textwrap.dedent(
            """\
            #!/usr/bin/env python3
            import sys
            acc = {}
            for line in sys.stdin:
                line = line.rstrip("\\n")
                i = line.find("\\t")
                if i == -1:
                    continue
                k, v = line[:i], line[i+1:]
                acc[k] = acc.get(k, 0) + int(v)
            for k, s in acc.items():
                print(f"{k}\\t{s}")
            """
        )
    )
    for p in (mapper, reducer):
        os.chmod(p, os.stat(p).st_mode | stat.S_IXUSR)
    return str(mapper), f"python3 {reducer}"


def test_pipe_job_with_real_executables(spark, tmp_path):
    """The literal stdin/stdout binary contract: a shell mapper and a python
    reducer, each run once per partition."""
    mapper, reducer = _wordcount_executables(tmp_path)
    data = spark.createDataFrame(
        [("Hello world hello",), ("WORLD of spark",)], ["value"]
    )
    out = pipe_job(spark, data, mapper, reducer, n_reducers=2)
    counts = {k: int(v) for k, v in parse_tab_kv(r.value for r in out.collect())}
    assert counts == {"hello": 2, "world": 2, "of": 1, "spark": 1}


def test_pipe_job_empty_reducer_output(spark):
    """Reducers that emit nothing give an empty result. Each reducer
    partition (~250 KB) is larger than a pipe buffer, and ``true`` reads
    none of it: a child that exits 0 early is a success."""
    src = spark.range(100_000).selectExpr("concat('k', CAST(id % 97 AS STRING), '\t1') AS v")
    assert pipe_job(spark, src, "cat", "true", n_reducers=4).collect() == []


@pytest.mark.parametrize(
    ("map_cmd", "code"), [("false", 1), ("sh -c 'cat; exit 3'", 3)], ids=["silent", "partial"]
)
def test_pipe_job_failing_mapper_fails_the_action(spark, map_cmd, code):
    """A mapper's non-zero exit fails the action with an error naming the
    command and its code, also when the mapper printed lines first."""
    src = spark.createDataFrame([("a\t1",), ("b\t2",)], "value string")
    with pytest.raises(PythonException, match=re.escape(f"{map_cmd!r} exited with code {code}")):
        pipe_job(spark, src, map_cmd, "cat", n_reducers=2).collect()


def test_submit_cli_in_process(spark, tmp_path):
    """The gridmr-submit CLI end to end on the test session: split, pipe
    through a shell mapper and a python reducer, one final.txt-style part.
    The CLI's get_spark finds the running session and leaves its conf
    (partitions, parallelism, app name) as it found it."""
    from gridmr_spark.compat import cli

    mapper, reducer = _wordcount_executables(tmp_path)
    inp = tmp_path / "input.txt"
    inp.write_text("Hello world hello\n\nWORLD of spark\nto be or not to be\n")
    out = tmp_path / "out"
    conf_before = dict(spark.conf.getAll)
    argv = [mapper, reducer, str(inp), str(out), "--reducers", "3", "--single-file"]
    assert cli.main(argv) == 0
    parts = [p for p in out.iterdir() if p.name.startswith("part-")]
    assert len(parts) == 1
    counts = {k: int(v) for k, v in parse_tab_kv(parts[0].read_text().splitlines())}
    assert counts == Counter(re.findall(r"[a-z0-9]+", inp.read_text().lower()))
    assert dict(spark.conf.getAll) == conf_before


def test_sources_roundtrip(spark, tmp_path):
    from gridmr_spark import sources

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") * 1.5).alias("x")
    )
    for fmt in ("parquet", "csv", "json"):
        path = str(tmp_path / fmt)
        sources.write(df, path, fmt=fmt)
        back = getattr(sources, f"read_{fmt}")(spark, path)
        assert back.count() == 100
    single = str(tmp_path / "single")
    sources.write(df, single, fmt="csv", single_file=True)
    parts = [f for f in os.listdir(single) if f.startswith("part-")]
    assert len(parts) == 1  # A10 final.txt compat: exactly one part file


def test_partitioned_write_layout(spark, tmp_path):
    """partitionBy write produces the hive-style directory layout that
    enables partition pruning on read."""
    from gridmr_spark import sources

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 4).alias("bucket"), (F.col("id") * 2.0).alias("x")
    )
    out = str(tmp_path / "parts")
    sources.write(df, out, fmt="parquet", partition_by=["bucket"])
    dirs = sorted(d for d in os.listdir(out) if d.startswith("bucket="))
    assert dirs == ["bucket=0", "bucket=1", "bucket=2", "bucket=3"]
    pruned = spark.read.parquet(out).where("bucket = 2")
    assert pruned.count() == 250
    from gridmr_spark.plans import physical_plan
    assert "PartitionFilters: [isnotnull(bucket" in physical_plan(pruned)


def test_approx_count_distinct_error_bound(spark, sf_oracle):
    """HLL++ estimates must stay within the documented ~5% rsd of exact."""
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
    exact = li.select("l_orderkey").distinct().count()
    approx = li.agg(F.approx_count_distinct("l_orderkey").alias("a")).collect()[0].a
    assert abs(approx - exact) / exact < 0.1, (exact, approx)


def test_http_input_ingest(spark, tmp_path):
    """A2 parity: the reference curl-fetches http(s) split inputs
    (cpp/worker/src/common/fs.cc:42-47, invoked from mapper.cc:46-53).
    read_text accepts an http:// URI (sc.addFile fetch + cluster-wide
    distribution) and the result flows through the same pipe path."""
    import http.server
    import socketserver
    import threading

    (tmp_path / "input.txt").write_text("alpha beta\nbeta gamma\n")

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(tmp_path), **kw)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), Handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            from gridmr_spark import sources

            df = sources.read_text(spark, f"http://127.0.0.1:{port}/input.txt")
            lines = sorted(r.value for r in df.collect())
            assert lines == ["alpha beta", "beta gamma"]
            out = run_job(spark, df, wordcount_map, wordcount_reduce, n_reducers=2)
            counts = {k: int(v) for k, v in parse_tab_kv(r.value for r in out.collect())}
            assert counts == {"alpha": 1, "beta": 2, "gamma": 1}
        finally:
            httpd.shutdown()


def test_date_partitioned_write_prunes(spark, sf_oracle, tmp_path):
    """SCALING.md's partition-pruning claim, proven on a date-partitioned
    fact write: a day-level predicate must reach the scan as a
    PartitionFilter (directories skipped entirely) — at 100 TB the
    difference between scanning one day and scanning three years."""
    from gridmr_spark.catalog import load_table
    from gridmr_spark.plans import physical_plan

    ev = load_table(spark, sf_oracle, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_date")
    ev.write.partitionBy("event_date").parquet(out)
    back = spark.read.parquet(out)
    one_day = back.where(F.col("event_date") == F.lit("2024-01-02").cast("date"))
    plan = physical_plan(one_day)
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters", 1)[1][:200]
    # pruned row count equals a predicate on the unpartitioned source
    expect = ev.where(F.to_date("ts") == F.lit("2024-01-02").cast("date")).count()
    assert one_day.count() == expect and expect > 0


def test_hll_mergeable_sketch_error_bound(spark, sf_oracle):
    """Two-level sketch (per-group hll_sketch_agg -> hll_union_agg) must
    estimate within ~5% of exact, and the merged total must equal a
    direct single-level sketch's estimate reasonably closely."""
    from gridmr_spark.queries import load_all

    out = {r.o_orderpriority: r.approx_customers
           for r in load_all()["agg_hll_mergeable"].fn(spark, sf_oracle).collect()}
    orders = spark.read.parquet(f"{sf_oracle}/orders.parquet")
    exact_all = orders.select("o_custkey").distinct().count()
    assert abs(out["ALL"] - exact_all) / exact_all < 0.05, (out["ALL"], exact_all)
    exact_urgent = (orders.where(F.col("o_orderpriority") == "1-URGENT")
                    .select("o_custkey").distinct().count())
    assert abs(out["1-URGENT"] - exact_urgent) / exact_urgent < 0.05

def test_compaction_collapses_file_count(spark, sf_oracle):
    """layout_compact_files must actually shrink the part-file count: the
    manufactured small-file layout has many files, the compacted rewrite
    at most 2 — same rows either way (value parity is the gate's job)."""
    import os

    from gridmr_spark.queries import load_all
    from gridmr_spark.queries.sources_io import _scratch

    load_all()["layout_compact_files"].fn(spark, sf_oracle)
    small = [f for f in os.listdir(_scratch(sf_oracle, "smallfiles")) if f.startswith("part-")]
    compact = [f for f in os.listdir(_scratch(sf_oracle, "compacted")) if f.startswith("part-")]
    assert len(small) >= 8, small
    assert len(compact) <= 2, compact


class TestRemoteSubmit:
    """Spark Connect submit mapping (compat/remote.py): the reference's
    POST /submit-job contract (HttpJobServer.java:27-82) parsed and
    validated without Spark or network."""

    def test_parse_full_form(self):
        from gridmr_spark.compat.remote import parse_submit_request

        req = parse_submit_request(
            {
                "input_uris": "s3://b/a.txt, s3://b/c.txt",
                "n_reducers": "8",
                "map_bin_uri": "wordcount",
                "reduce_bin_uri": "wordcount",
                "output_uri": "s3://b/out",
                "desired_maps": "16",
                "group_partitioning": "true",
                "min_workers": "3",
                "start_delay_ms": "500",
            }
        )
        assert req.input_uris == ["s3://b/a.txt", "s3://b/c.txt"]
        assert req.n_reducers == 8 and req.desired_maps == 16
        assert req.group_partitioning is True
        # scheduling hints the Connect cluster owns are recorded, not lost
        assert req.ignored == {"min_workers": "3", "start_delay_ms": "500"}

    def test_parse_rejects_like_the_java_handler(self):
        import pytest

        from gridmr_spark.compat.remote import parse_submit_request

        base = {
            "input_uris": "in.txt", "map_bin_uri": "m", "reduce_bin_uri": "r",
            "output_uri": "out",
        }
        for bad, match in [
            ({"input_uris": ""}, "input_uris"),
            ({"n_reducers": "zero"}, "n_reducers"),
            ({"n_reducers": "0"}, "n_reducers"),
            ({"map_bin_uri": ""}, "map_bin_uri"),
            ({"output_uri": ""}, "output_uri"),
        ]:
            with pytest.raises(ValueError, match=match):
                parse_submit_request({**base, **bad})

    def test_binary_jobs_refused_over_connect(self):
        """A Connect server's executors cannot run client-local binaries;
        the wrapper must say so instead of failing deep inside a session."""
        import pytest

        from gridmr_spark.compat.remote import submit_job

        with pytest.raises(ValueError, match="Connect"):
            submit_job(
                "sc://nowhere:15002",
                input_uris="in.txt",
                map_bin_uri="/bin/map", reduce_bin_uri="/bin/reduce",
                output_uri="out",
            )


class TestRemoteSubmitDesiredMaps:
    """ADVICE r6 fixes: desired_maps 400-path names the field, and the
    parsed value is derivable into a maxPartitionBytes split size."""

    def test_bad_desired_maps_names_field(self):
        import pytest

        from gridmr_spark.compat.remote import parse_submit_request

        base = {
            "input_uris": "in.txt", "map_bin_uri": "m", "reduce_bin_uri": "r",
            "output_uri": "out",
        }
        with pytest.raises(ValueError, match="desired_maps"):
            parse_submit_request({**base, "desired_maps": "many"})
        with pytest.raises(ValueError, match="desired_maps"):
            parse_submit_request({**base, "desired_maps": "0"})

    def test_local_input_bytes(self, tmp_path):
        from gridmr_spark.compat.remote import _local_input_bytes

        f1 = tmp_path / "a.txt"
        f1.write_bytes(b"x" * 100)
        f2 = tmp_path / "b.txt"
        f2.write_bytes(b"y" * 50)
        assert _local_input_bytes([str(f1), str(f2)]) == 150
        assert _local_input_bytes([str(tmp_path / "*.txt")]) == 150
        assert _local_input_bytes([str(tmp_path)]) == 150  # directory walk
        assert _local_input_bytes(["file:" + str(f1)]) == 100
        assert _local_input_bytes(["s3://bucket/x"]) is None  # remote: hint ignored
        assert _local_input_bytes([str(tmp_path / "missing.txt")]) is None


def test_parse_sc_url_rejects_auth_params_in_delegated_mode():
    """ADVICE r9: a Connect URL carrying ``;token=...`` or
    ``;use_ssl=true`` must NOT be silently downgraded to an
    unauthenticated plaintext dial by the delegated transport — the
    parser fails loudly, naming the grpc transport as the path that
    honors those params. Cosmetic params stay tolerated."""
    import pytest

    from gridmr_spark.compat.remote import _parse_sc_url

    assert _parse_sc_url("sc://h:15002") == ("h", 15002)
    assert _parse_sc_url("sc://h:15002/;user_id=alice") == ("h", 15002)
    with pytest.raises(ValueError, match="token"):
        _parse_sc_url("sc://h:15002/;token=abc123")
    with pytest.raises(ValueError, match="use_ssl"):
        _parse_sc_url("sc://h:15002/;use_ssl=true")
    # an EXPLICIT plaintext opt-in is exactly what the delegated
    # transport does — must not be rejected
    assert _parse_sc_url("sc://h:15002/;use_ssl=false") == ("h", 15002)
    with pytest.raises(ValueError, match="auth/TLS"):
        _parse_sc_url("sc://h:15002/;use_ssl=true;token=abc;user_id=x")
