"""Remote job submission — the Spark-native answer to the reference's
HTTP job server (HttpJobServer.java:27-82, POST /submit-job) and its gRPC
WorkerStream (src/main/proto/gridmr.proto:63-65).

The reference accepts a form/JSON body::

    input_uris=<csv>  n_reducers=N  map_bin_uri=...  reduce_bin_uri=...
    desired_maps=M  group_partitioning=bool  min_workers=K  start_delay_ms=T

and returns {"job_id": ..., "status": "accepted"}. In the Spark world the
"job server" role is played by Spark Connect (``sc://host:port``, built
into Spark 4): the cluster runs a long-lived Connect endpoint, clients
submit DECLARATIVE plans over gRPC, and the session id is the job handle.
This module maps the reference's submit contract onto that — the same
parameters, the same compat MapReduce semantics (compat/mapreduce.py),
executed remotely:

    from gridmr_spark.compat.remote import submit_job
    result = submit_job(
        "sc://cluster:15002",
        input_uris=["s3://bucket/in/*.txt"],
        n_reducers=8,
        map_bin_uri="wordcount",           # named builtin or a binary URI
        reduce_bin_uri="wordcount",
        output_uri="s3://bucket/out",
    )

Parameter mapping (reference -> here):
- input_uris          -> the read glob(s)
- n_reducers          -> reducer partition count (hash co-location kept)
- map/reduce_bin_uri  -> 'wordcount' builtin; binaries are refused (run
                         them with the local CLI, compat.pipe_job)
- desired_maps        -> spark.sql.files.maxPartitionBytes-derived hint
- group_partitioning  -> single-key-per-reducer contract (A5)
- min_workers         -> no-op: Connect clusters autoscale; recorded
- start_delay_ms      -> no-op: scheduling is the cluster's job; recorded

``parse_submit_request`` is pure (no Spark, no network) so the contract is
unit-testable anywhere. ``submit_job`` picks a TRANSPORT:

- ``grpc`` (in-process): the pyspark Connect client
  (pip install "pyspark[connect]") — full DataFrame plan over the wire.
- ``delegated``: when this interpreter lacks grpcio, the job is rendered
  to its declarative SQL twin (``render_job_sql``) and shipped over real
  gRPC by ``tools/connect_probe_client.py`` running under an interpreter
  that HAS a grpc runtime (on this container: the public Google Cloud
  SDK's bundled CPython, found by ``tools/probe_grpc.py``). Same wire
  protocol, same server, same output contract — results land at
  output_uri exactly like the reference's A10/A11.
- ``auto`` (default): grpc if importable, else delegated if available,
  else a clear ImportError.

A deployment that insists on HTTP-POST semantics puts this function
behind any ~10-line WSGI route — the body parse is already here.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import uuid
from dataclasses import dataclass, field


@dataclass(frozen=True)
class SubmitRequest:
    """The reference's /submit-job parameters, validated and normalized."""

    input_uris: list[str]
    n_reducers: int
    map_bin_uri: str
    reduce_bin_uri: str
    output_uri: str
    desired_maps: int | None = None
    group_partitioning: bool = False
    ignored: dict = field(default_factory=dict)  # accepted-but-N/A params


def parse_submit_request(form: dict) -> SubmitRequest:
    """Validate a submit body with the reference's field names and
    permissiveness (csv input_uris, string booleans, unknown fields that
    are scheduling hints recorded as ignored). Raises ValueError with the
    field name on anything unusable — the 400 path of the Java handler."""
    inputs = [s.strip() for s in str(form.get("input_uris", "")).split(",") if s.strip()]
    if not inputs:
        raise ValueError("input_uris: at least one input required")
    try:
        n_reducers = int(form.get("n_reducers", 4))
    except (TypeError, ValueError):
        raise ValueError("n_reducers: not an int") from None
    if n_reducers < 1:
        raise ValueError("n_reducers: must be >= 1")
    map_bin = str(form.get("map_bin_uri", "")).strip()
    reduce_bin = str(form.get("reduce_bin_uri", "")).strip()
    if not map_bin or not reduce_bin:
        raise ValueError("map_bin_uri/reduce_bin_uri: both required")
    output = str(form.get("output_uri", "")).strip()
    if not output:
        raise ValueError("output_uri: required")
    desired_maps = form.get("desired_maps")
    if desired_maps is not None:
        try:
            desired_maps = int(desired_maps)
        except (TypeError, ValueError):
            raise ValueError("desired_maps: not an int") from None
        if desired_maps < 1:
            raise ValueError("desired_maps: must be >= 1")
    group = str(form.get("group_partitioning", "false")).lower() in ("1", "true", "yes")
    ignored = {
        k: form[k]
        for k in ("min_workers", "start_delay_ms")
        if k in form and form[k] is not None
    }
    return SubmitRequest(
        input_uris=inputs,
        n_reducers=n_reducers,
        map_bin_uri=map_bin,
        reduce_bin_uri=reduce_bin,
        output_uri=output,
        desired_maps=desired_maps,
        group_partitioning=group,
        ignored=ignored,
    )


def render_job_sql(req: SubmitRequest, max_partition_bytes: int | None = None) -> str:
    """The declarative SQL twin of the builtin wordcount job — what goes
    over the wire in delegated mode. Semantics identical to the DataFrame
    path (operators/text.word_count ∘ sources.read_text): lowercase,
    non-alnum -> space (map.cc:12-16), whitespace split + drop empties
    (map.cc:17-21), group-count (reduce.cc:10-22); output is tab-separated
    ``word\\tcount`` lines at output_uri (A10), REPARTITION(n_reducers)
    standing in for the reference's R reduce partitions (A5).

    Statements are joined with the ``\\n;;\\n`` separator
    ``tools/connect_probe_client.py`` executes within ONE Connect session,
    so an optional maxPartitionBytes prologue (the desired_maps mapping)
    scopes to this job: Connect confs are session-local and the session is
    used for exactly this submit.

    Paths are interpolated into SQL, so they are VALIDATED first: a quote
    or backtick in a URI would rewrite the statement (an injection surface
    once this sits behind the HTTP route the module docstring suggests) —
    such paths are rejected with a clear error rather than escaped, since
    no legitimate job input needs them."""
    for p in [req.output_uri, *req.input_uris]:
        if any(ch in p for ch in ("'", "`", '"', ";", "\n", "\r")):
            raise ValueError(
                f"path {p!r} contains SQL-significant characters "
                "(quote/backtick/semicolon/newline) — rejected"
            )
    srcs = "\n  UNION ALL\n  ".join(
        f"SELECT value FROM text.`{uri}`" for uri in req.input_uris
    )
    job = f"""
INSERT OVERWRITE DIRECTORY '{req.output_uri}' USING csv OPTIONS (delimiter '\\t')
SELECT /*+ REPARTITION({req.n_reducers}) */ word, count(*) AS cnt FROM (
  SELECT explode(filter(split(lower(regexp_replace(value, '[^a-zA-Z0-9]+', ' ')), ' '), x -> x != '')) AS word
  FROM (
  {srcs}
  )
) GROUP BY word
""".strip()
    if max_partition_bytes is not None:
        return (
            f"SET spark.sql.files.maxPartitionBytes={max_partition_bytes}"
            + "\n;;\n"
            + job
        )
    return job


# The public Google Cloud SDK locations tools/probe_grpc.py discovered: a
# bundled CPython with compiled grpcio, plus two vendored protobuf trees
# that assemble into a runtime for pyspark's generated Connect protos.
_BUNDLED_PY = "/usr/lib/google-cloud-sdk/platform/bundledpythonunix/bin/python3"
_APPENGINE = "/usr/lib/google-cloud-sdk/platform/google_appengine"
_CLOUDSDK_PB = "/usr/lib/google-cloud-sdk/lib/third_party/cloudsdk/google/protobuf"


def delegated_available() -> bool:
    """True when the delegated transport's pieces exist on this machine
    (bundled grpc-capable interpreter + vendored protobuf runtimes +
    the probe client script)."""
    return (
        os.path.exists(_BUNDLED_PY)
        and os.path.isdir(os.path.join(_APPENGINE, "google", "protobuf"))
        and os.path.exists(os.path.join(_CLOUDSDK_PB, "any_pb2.py"))
        and os.path.exists(_probe_client_path())
    )


def _probe_client_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "tools",
        "connect_probe_client.py",
    )


def _parse_sc_url(remote_url: str) -> tuple[str, int]:
    """host and port from a Spark Connect URL. Connect URLs may carry
    parameters after the authority (``sc://host:port/;key=value``) —
    cosmetic ones (``user_id``, ``session_id``) are tolerated, but
    auth/TLS params (``token``, ``use_ssl``) are REJECTED: the delegated
    transport always dials ``grpc.insecure_channel``, so silently
    ignoring them would submit unauthenticated over plaintext when the
    caller asked for credentials — fail loudly instead and let the
    caller use the grpc transport (which honors them)."""
    body = remote_url.removeprefix("sc://")
    authority, _, params = body.partition("/")
    host, _, port = authority.partition(":")
    if not host or not port.isdigit():
        raise ValueError(f"remote_url: expected sc://host:port[/;params], got {remote_url!r}")
    kv = {}
    for p in params.split(";"):
        if p.strip():
            k, _, v = p.partition("=")
            kv[k.strip().lower()] = v.strip().lower()
    secure = sorted(
        k for k, v in kv.items()
        if k == "token"
        or (k == "use_ssl" and v in ("true", "1", "yes"))  # =false IS plaintext
    )
    if secure:
        raise ValueError(
            f"remote_url carries auth/TLS params {secure} which the "
            "delegated transport cannot honor (it dials an insecure "
            "plaintext channel) — install grpcio so the grpc transport "
            "handles them, or strip the params to opt into plaintext"
        )
    return host, int(port)


def _split_bytes(req: SubmitRequest, ignored: dict) -> int | None:
    """The split size (maxPartitionBytes) that stands in for desired_maps:
    total input bytes / desired_maps, at least 4 MiB. A remote store's size
    isn't visible from the client, so there the hint is recorded in
    ``ignored`` and None is returned rather than a guess."""
    if req.desired_maps is None:
        return None
    total = _local_input_bytes(req.input_uris)
    if not total:
        ignored["desired_maps"] = req.desired_maps
        return None
    return max(4 * 1024 * 1024, -(-total // req.desired_maps))


def _delegated_submit(remote_url: str, req: SubmitRequest, ignored: dict) -> dict:
    """Ship the job's SQL over real gRPC from the bundled interpreter —
    submit_job's transport when THIS interpreter has no grpcio. The job id
    is the Connect session id (client-generated UUID, passed down so the
    wire session really carries it — the reference's master-generated UUID
    job handle, HttpJobServer.java:48-82, with the generation moved
    client-side)."""
    host, port = _parse_sc_url(remote_url)
    mpb = _split_bytes(req, ignored)
    job_id = str(uuid.uuid4())
    import pyspark

    spark_py = os.path.dirname(os.path.abspath(pyspark.__file__))
    with tempfile.TemporaryDirectory(prefix="gridmr-submit-") as tmp:
        # synthetic proto tree: empty pyspark/sql/connect parents + symlink
        # to the generated protos, importable without pyspark's
        # pandas/pyarrow __init__ chain (see connect_probe_client.py)
        pkg = os.path.join(tmp, "prototree", "pyspark", "sql", "connect")
        os.makedirs(pkg)
        for d in (
            os.path.join(tmp, "prototree", "pyspark"),
            os.path.join(tmp, "prototree", "pyspark", "sql"),
            pkg,
        ):
            open(os.path.join(d, "__init__.py"), "w").close()
        os.symlink(
            os.path.join(spark_py, "sql", "connect", "proto"),
            os.path.join(pkg, "proto"),
        )
        sql_file = os.path.join(tmp, "job.sql")
        with open(sql_file, "w", encoding="utf-8") as fh:
            fh.write(render_job_sql(req, max_partition_bytes=mpb))
        res = subprocess.run(
            [
                _BUNDLED_PY,
                _probe_client_path(),
                "--host", host,
                "--port", str(port),
                "--session-id", job_id,
                "--sql-file", sql_file,
                "--proto-tree", os.path.join(tmp, "prototree"),
                "--appengine", _APPENGINE,
                "--cloudsdk-protobuf", _CLOUDSDK_PB,
            ],
            capture_output=True,
            text=True,
            timeout=600,
        )
    if res.returncode != 0:
        raise RuntimeError(
            f"delegated submit failed (rc={res.returncode}): "
            f"{res.stdout}\n{res.stderr}"
        )
    return {
        "job_id": job_id,
        "status": "completed",
        "output_uri": req.output_uri,
        "ignored": ignored,
        "transport": "delegated",
    }


def _grpc_importable() -> bool:
    try:
        import grpc  # noqa: F401

        return True
    except ImportError:
        return False


def _connect_session(remote_url: str):
    try:
        from pyspark.sql import SparkSession

        return SparkSession.builder.remote(remote_url).getOrCreate()
    except ImportError as e:
        raise ImportError(
            "Spark Connect client needs grpc: pip install 'pyspark[connect]' "
            f"(missing: {e.name})"
        ) from e


def submit_job(remote_url: str, transport: str = "auto", **form) -> dict:
    """Submit a compat MapReduce job to a Spark Connect endpoint. Returns
    the reference's response shape: {"job_id", "status"} plus the output
    location. Blocking (Connect actions are synchronous — the reference's
    poll/scp result fetch, A11, collapses into the action itself).

    ``transport``: 'grpc' (in-process pyspark Connect client),
    'delegated' (render to SQL, ship via the bundled-interpreter gRPC
    client — see module docstring), or 'auto' (grpc if importable, else
    delegated if available)."""
    if transport not in ("auto", "grpc", "delegated"):
        raise ValueError(f"transport: must be auto|grpc|delegated, got {transport!r}")
    req = parse_submit_request(form)
    if not (req.map_bin_uri == "wordcount" and req.reduce_bin_uri == "wordcount"):
        # The binaries are client-local paths, which a Connect server's
        # executors cannot run (compat/mapreduce.pipe_job runs them where
        # the executors see the client's files). Binary jobs go through
        # classic submit against the same cluster (spark-submit / Livy),
        # the honest mapping of the reference's "ship a .cc to workers"
        # model; declarative jobs are what Connect is FOR.
        raise ValueError(
            "map_bin_uri/reduce_bin_uri: a Spark Connect server's executors "
            "cannot run client-local binaries — binary pipe jobs need "
            "classic submit (gridmr-submit CLI via spark-submit); builtin "
            "'wordcount' is the Connect-expressible demo job"
        )
    if transport == "delegated" or (transport == "auto" and not _grpc_importable()):
        if not delegated_available():
            raise ImportError(
                "Spark Connect client needs grpc (pip install "
                "'pyspark[connect]'), and the delegated transport's bundled "
                "interpreter is not present on this machine"
            )
        return _delegated_submit(remote_url, req, dict(req.ignored))
    spark = _connect_session(remote_url)
    from pyspark.sql import functions as F

    from gridmr_spark import sources
    from gridmr_spark.operators.text import word_count
    from gridmr_spark.session import session_conf

    ignored = dict(req.ignored)
    # desired_maps is a PER-JOB hint but spark.conf is SESSION state (the
    # Connect session is getOrCreate'd and shared): scope it to this job so
    # a later submit, or any other workload on the session, does not
    # inherit this job's split size.
    per_split = _split_bytes(req, ignored)
    conf = {} if per_split is None else {"spark.sql.files.maxPartitionBytes": str(per_split)}
    with session_conf(spark, conf):
        text = sources.read_text(spark, ",".join(req.input_uris))
        counts = word_count(text.withColumnRenamed("value", "text"))
        out = counts.select(
            F.concat_ws("\t", F.col("word"), F.col("cnt").cast("string")).alias(
                "value"
            )
        ).repartition(req.n_reducers)
        out.write.mode("overwrite").text(req.output_uri)
    return {
        "job_id": spark.conf.get("spark.app.id", "connect-session"),
        "status": "completed",
        "output_uri": req.output_uri,
        "ignored": ignored,
        "transport": "grpc",
    }


def _local_input_bytes(uris: list[str]) -> int | None:
    """Total size of locally-statable input URIs (bare paths, file:
    schemes, globs). Returns None when any URI points at a remote store —
    the caller records the hint as ignored instead of guessing."""
    import glob as _glob
    import os as _os

    total = 0
    for uri in uris:
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        if "://" in path:
            return None
        hits = _glob.glob(path) if any(c in path for c in "*?[") else [path]
        if not hits:
            return None
        for h in hits:
            if _os.path.isdir(h):
                for root, _dirs, files in _os.walk(h):
                    total += sum(
                        _os.path.getsize(_os.path.join(root, f)) for f in files
                    )
            elif _os.path.isfile(h):
                total += _os.path.getsize(h)
            else:
                return None
    return total
