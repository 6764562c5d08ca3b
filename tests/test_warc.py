"""WARC ingestion source (sources/warc.py).

The split contract under test is the one the reference applies to text
files (line-safe ~N MB chunks, cpp/worker/src/common/fs.cc:28-53)
generalized to WARC records: a record belongs to the split containing its
first byte, splits may read past their end to finish a record, and every
record is read exactly once for ANY chunk size — including records that
straddle chunk boundaries and payloads that contain the record delimiter.
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from gridmr_spark.sources import warc as W


def _mk_warc(path, payloads, uri_prefix="http://t.example/"):
    blob = b"".join(
        W.format_record(f"{uri_prefix}{i}", p) for i, p in enumerate(payloads)
    )
    with open(path, "wb") as fh:
        fh.write(blob)
    return blob


def _payloads():
    # sizes chosen so records straddle every 4 KB boundary; one payload
    # embeds a decoy record delimiter whose header block does NOT parse
    # (non-numeric Content-Length), so sync validation must reject it
    decoy = b"xx\r\n\r\nWARC/1.0\r\nContent-Length: NaN\r\n\r\nyy"
    return [
        b"a" * 100,
        b"b" * 5000,
        decoy * 3,
        b"c" * 12000,
        b"d",
        b"e" * 3000,
        b"",  # zero-length payload is legal
        b"f" * 9000,
    ]


def _read(spark, path, chunk_mb):
    W.register(spark)
    return (
        spark.read.format("warc")
        .option("chunk_mb", chunk_mb)
        .option("path", path)
        .load()
    )


def test_chunk_size_invariance_exactly_once(spark, tmp_path):
    """Any chunk size yields the same record set, each record once."""
    f = str(tmp_path / "t.warc")
    payloads = _payloads()
    _mk_warc(f, payloads)
    want = sorted((f"http://t.example/{i}", p) for i, p in enumerate(payloads))
    for chunk_mb in (0.001, 0.004, 0.01, 64):  # 4 KB floor .. whole file
        got = sorted(
            (r.target_uri, bytes(r.payload))
            for r in _read(spark, f, chunk_mb).collect()
        )
        assert got == want, f"chunk_mb={chunk_mb}"


def test_partition_planning(spark, tmp_path):
    """partitions() cuts plain files into ceil(size/chunk) byte ranges and
    gzip files into exactly one split each."""
    f = str(tmp_path / "t.warc")
    blob = _mk_warc(f, _payloads())
    gz = str(tmp_path / "t2.warc.gz")
    with gzip.open(gz, "wb") as fh:
        fh.write(blob)
    reader = W.WarcReader({"path": str(tmp_path), "chunk_mb": 0.004})
    splits = reader.partitions()
    chunk = max(4096, int(0.004 * 1024 * 1024))
    n_plain = -(-os.path.getsize(f) // chunk)
    assert len(splits) == n_plain + 1
    plain = [s for s in splits if s.end is not None]
    assert [s.start for s in plain] == [i * chunk for i in range(n_plain)]
    assert plain[-1].end == os.path.getsize(f)
    (gzs,) = [s for s in splits if s.end is None]
    assert gzs.path == gz


def test_gzip_stream_equals_plain(spark, tmp_path):
    f = str(tmp_path / "t.warc")
    blob = _mk_warc(f, _payloads())
    gz = str(tmp_path / "t.warc.gz")
    os.remove(f)
    with gzip.open(gz, "wb") as fh:
        fh.write(blob)
    got = sorted(
        (r.target_uri, bytes(r.payload), r.content_length)
        for r in _read(spark, gz, 64).collect()
    )
    assert got == sorted(
        (f"http://t.example/{i}", p, len(p)) for i, p in enumerate(_payloads())
    )


def _incompressible_payloads(n=60, seed=7):
    import random

    rng = random.Random(seed)
    return [
        bytes(rng.randrange(256) for _ in range(rng.randrange(500, 4000)))
        for _ in range(n)
    ]


def _mk_members(path, members):
    with open(path, "wb") as fh:
        for m in members:
            fh.write(gzip.compress(m))
    return os.path.getsize(path)


@pytest.mark.parametrize(
    "layout",
    ["per_record", "single_member", "straddling_members", "mixed_members",
     "tiny_aligned_member"],
)
def test_gz_member_split_chunk_invariance(spark, tmp_path, layout):
    """A single multi-member .warc.gz archive must parse every record
    exactly once at ANY chunk size — including member boundaries that fall
    MID-record (the owning split decompresses across them; the next
    split's sync rejects the unaligned member) and a pure single-member
    stream (no sync points: split 0 reads everything). Incompressible
    payloads force genuinely multi-split files."""
    payloads = _incompressible_payloads()
    records = [
        W.format_record(f"http://t.example/{i}", p) for i, p in enumerate(payloads)
    ]
    blob = b"".join(records)
    if layout == "per_record":
        members = records
    elif layout == "single_member":
        members = [blob]
    elif layout == "straddling_members":
        import random

        cuts = sorted(
            {0, len(blob), *(random.Random(3).randrange(1, len(blob)) for _ in range(15))}
        )
        members = [blob[a:b] for a, b in zip(cuts, cuts[1:]) if b > a]
    elif layout == "mixed_members":
        members = [
            b"".join(records[:5]), records[5],
            b"".join(records[6:20]), b"".join(records[20:]),
        ]
    else:
        # handoff-symmetry regression: a RECORD-ALIGNED member smaller
        # than its record's header block. The owning split stops at that
        # boundary, so the next split's sync validator must accept it by
        # decompressing ACROSS members — a single-member probe rejects it
        # and the records after it are silently lost.
        starts = [0]
        for r in records:
            starts.append(starts[-1] + len(r))
        cuts = [0, starts[5] + 100, starts[10], starts[10] + 50,
                starts[20], len(blob)]
        members = [blob[a:b] for a, b in zip(cuts, cuts[1:])]
    gz = str(tmp_path / "t.warc.gz")
    size = _mk_members(gz, members)
    want = sorted((f"http://t.example/{i}", p) for i, p in enumerate(payloads))
    for chunk in (4096, 33333, size * 2):
        got = sorted(
            (r.target_uri, bytes(r.payload))
            for r in _read(spark, gz, chunk / 1024 / 1024).collect()
        )
        assert got == want, f"{layout} chunk={chunk}"


def test_gz_member_split_parallelism_and_offsets(spark, tmp_path):
    """Per-record-member archives (the Common Crawl layout) must actually
    parallelize — many splits, work spread across them — and each record's
    `offset` is its member's compressed offset (unique, monotone)."""
    payloads = _incompressible_payloads(40)
    gz = str(tmp_path / "t.warc.gz")
    _mk_members(
        gz,
        [W.format_record(f"http://t.example/{i}", p) for i, p in enumerate(payloads)],
    )
    reader = W.WarcReader({"path": gz, "chunk_mb": 4096 / 1024 / 1024})
    parts = reader.partitions()
    assert len(parts) > 5  # one big archive, many splits
    per_split = [len(list(reader.read(s))) for s in parts]
    assert sum(per_split) == 40
    assert sum(1 for n in per_split if n > 0) > 5  # work is spread
    rows = _read(spark, gz, 4096 / 1024 / 1024).collect()
    offs = sorted(r.offset for r in rows)
    assert len(set(offs)) == 40 and offs[0] == 0  # unique member offsets


def test_record_metadata_fields(spark, tmp_path):
    f = str(tmp_path / "t.warc")
    _mk_warc(f, [b"hello"])
    (r,) = _read(spark, f, 64).collect()
    assert r.warc_type == "response"
    assert r.warc_date == "2026-01-01T00:00:00Z"
    assert r.content_type == "text/plain"
    assert r.content_length == 5
    assert r.offset == 0
    assert r.file == "t.warc"
    assert r.record_id.startswith("<urn:uuid:") and r.record_id.endswith(">")


def test_writer_roundtrip_distributed(spark, tmp_path):
    """Spark-side write (one file per task) then read back: value-exact,
    and overwrite replaces prior generations."""
    out = str(tmp_path / "w")
    W.register(spark)
    df = spark.range(0, 200, 1, 8).select(
        F.concat(F.lit("http://w.example/"), F.col("id")).alias("target_uri"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "utf-8").alias("payload"),
    )
    df.write.format("warc").mode("append").save(out)
    back = _read(spark, out, 64)
    got = sorted((r.target_uri, bytes(r.payload)) for r in back.collect())
    assert got == sorted(
        (f"http://w.example/{i}", f"payload-{i}".encode()) for i in range(200)
    )
    # overwrite with a smaller table: old part files must be gone
    df.where(F.col("target_uri") == "http://w.example/7").write.format(
        "warc"
    ).mode("overwrite").save(out)
    assert _read(spark, out, 64).count() == 1


def test_sync_rejects_decoy_and_mid_record_start(tmp_path):
    """A split starting inside a payload (including inside the decoy
    delimiter bytes) must sync to the NEXT true record start."""
    f = str(tmp_path / "t.warc")
    payloads = _payloads()
    _mk_warc(f, payloads)
    # record offsets from a full sequential parse
    with open(f, "rb") as fh:
        offsets = [r[8] for r in W._read_records(fh, 0, None, "t.warc")]
    with open(f, "rb") as fh:
        fsize = os.path.getsize(f)
        for k, off in enumerate(offsets[1:], start=1):
            # a range starting 1 byte into the previous record syncs here
            assert W._sync_to_record(fh, offsets[k - 1] + 1, fsize) == off
            # a range starting exactly at a record start claims it
            assert W._sync_to_record(fh, off, fsize) == off
        # past the last record: no sync target
        assert W._sync_to_record(fh, offsets[-1] + 1, fsize) is None


def test_documents_pipeline_feed(spark, sf_smoke, tmp_path):
    """WARC -> documents-shaped frame: the ingest output joins the existing
    text operators without adaptation."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").limit(50)
    out_dir = str(tmp_path / "warc_feed")
    W.register(spark)
    docs.select(
        F.concat(F.lit("http://synth.example/doc/"), F.col("doc_id")).alias(
            "target_uri"
        ),
        F.encode("text", "utf-8").alias("payload"),
    ).write.format("warc").mode("overwrite").save(out_dir)
    back = (
        _read(spark, out_dir, 64)
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
            F.decode("payload", "utf-8").alias("text"),
        )
    )
    want = sorted((r.doc_id, r.text) for r in docs.select("doc_id", "text").collect())
    assert sorted((r.doc_id, r.text) for r in back.collect()) == want


def test_malformed_input_raises(spark, tmp_path):
    f = str(tmp_path / "bad.warc")
    with open(f, "wb") as fh:
        fh.write(b"WARC/1.0\r\nContent-Length: 10\r\n\r\nshort")
    with pytest.raises(Exception, match="truncated|malformed"):
        _read(spark, f, 64).collect()


def test_stream_ingests_arriving_segments_exactly_once(spark, tmp_path):
    """readStream over a growing WARC directory: run 1 ingests segment A;
    segment B arrives; run 2 (same checkpoint) ingests ONLY B — the
    lexicographic high-water offset makes delivery exactly-once across
    restarts, and each new file is byte-range-split like the batch scan."""
    d = tmp_path / "warc"
    d.mkdir()
    _mk_warc(str(d / "seg-00001.warc"), [b"a" * 100, b"b" * 9000])
    W.register(spark)
    ck, sink = str(tmp_path / "ck"), str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("warc")
            .option("chunk_mb", 0.004)
            .option("path", str(d))
            .load()
            .select("target_uri", "content_length", "file")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: df.write.mode("append").parquet(sink))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    got1 = sorted((r.file, r.target_uri) for r in spark.read.parquet(sink).collect())
    assert [f for f, _ in got1] == ["seg-00001.warc"] * 2
    _mk_warc(str(d / "seg-00002.warc"), [b"c" * 5000], uri_prefix="http://t2.example/")
    run()
    got2 = sorted((r.file, r.target_uri) for r in spark.read.parquet(sink).collect())
    assert got2 == got1 + [("seg-00002.warc", "http://t2.example/0")]


def test_stream_idles_on_missing_directory(spark, tmp_path):
    """A stream started BEFORE the producer creates the watched directory
    idles at the empty offset instead of crashing (ADVICE r6: latestOffset
    used to raise FileNotFoundError); once the directory appears with a
    segment, a later run picks it up from the same checkpoint."""
    d = tmp_path / "not_yet"  # never mkdir'd before run 1
    W.register(spark)
    ck, sink = str(tmp_path / "ck"), str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("warc")
            .option("path", str(d))
            .load()
            .select("target_uri")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: df.write.mode("append").parquet(sink))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()  # must not raise; zero batches with rows
    assert not os.path.exists(sink) or spark.read.parquet(sink).count() == 0
    d.mkdir()
    _mk_warc(str(d / "seg-00001.warc"), [b"hello"])
    run()
    assert spark.read.parquet(sink).count() == 1


def test_append_commit_reconciles_duplicate_attempt_orphans(spark, tmp_path):
    """Append-mode commit() removes THIS job's uncommitted part files (a
    duplicated task attempt's orphan) while leaving other jobs' output
    alone (ADVICE r6: only overwrite mode used to reconcile)."""
    from pyspark.sql import Row

    W.register(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [Row(target_uri="http://a/1", payload=bytearray(b"x"))]
    )
    df.coalesce(1).write.format("warc").mode("append").save(out)
    df.coalesce(1).write.format("warc").mode("append").save(out)
    files = sorted(os.listdir(out))
    assert len(files) == 2  # two jobs, one committed file each

    # simulate a duplicate attempt from job 2: an orphan carrying job 2's
    # prefix that is NOT in the commit messages
    job2_prefix = files[1].split("-part-")[0]
    orphan = os.path.join(out, f"{job2_prefix}-part-00000-deadbeef.warc")
    with open(orphan, "wb") as fh:
        fh.write(W.format_record("http://dup/0", b"dup"))

    writer = W.WarcWriter(
        {"path": out}, spark.createDataFrame(
            [Row(target_uri="u", payload=bytearray(b"p"))]
        ).schema, overwrite=False,
    )
    writer.job_prefix = job2_prefix  # reconcile as job 2 would
    writer.commit([W._WarcCommit(files[1])])
    left = sorted(os.listdir(out))
    assert left == files  # orphan gone, both committed files intact
    got = spark.read.format("warc").load(out)
    assert got.count() == 2  # no duplicated records visible to readers


def test_append_jobs_keep_stream_high_water_monotonic(spark, tmp_path):
    """The stream reader's offset is the lexicographic MAX file name, so a
    later append job's part files must sort AFTER every file already in
    the directory — the writer's epoch-millis job prefix guarantees it
    (round-7 advice: a purely random prefix broke the advertised
    writer->stream pairing ~50% of the time)."""
    from pyspark.sql import Row

    W.register(spark)
    out = str(tmp_path / "mono")
    df = spark.createDataFrame(
        [Row(target_uri="http://m/1", payload=bytearray(b"x"))]
    )
    seen: list[str] = []
    for _ in range(4):
        df.coalesce(1).write.format("warc").mode("append").save(out)
        files = sorted(f for f in os.listdir(out) if f.endswith(".warc"))
        new = [f for f in files if f not in seen]
        assert len(new) == 1
        # every file of the new job sorts above the prior high-water mark
        if seen:
            assert min(new) > max(seen), (new, seen)
        seen = files
    # and the stream contract itself: reading from the high-water offset of
    # job N-1 yields exactly job N's file
    reader = W.WarcStreamReader({"path": out, "chunk_mb": "64"})
    parts = reader.partitions({"upto": sorted(seen)[-2]}, {"upto": sorted(seen)[-1]})
    got_files = {os.path.basename(p.path) for p in parts if p.path}
    assert got_files == {sorted(seen)[-1]}


@pytest.mark.parametrize("chunk_mb", [0.004, 0.008, 64])
def test_arrow_scan_equals_datasource(spark, tmp_path, chunk_mb):
    """read_warc_arrow and format('warc') must return byte-identical
    record sets under every split geometry (incl. boundary-straddling
    records and the decoy delimiter), and the gzip path must match too."""
    f = str(tmp_path / "t.warc")
    _mk_warc(f, _payloads())
    gz = str(tmp_path / "t2.warc.gz")
    with gzip.open(gz, "wb") as fh:
        fh.write(b"".join(W.format_record(f"http://g.example/{i}", p)
                          for i, p in enumerate(_payloads())))
    cols = ["record_id", "target_uri", "content_length", "file", "offset"]
    for path in (f, gz, str(tmp_path)):
        ds = _read(spark, path, chunk_mb).select(*cols, F.md5("payload").alias("h"))
        ar = W.read_warc_arrow(spark, path, chunk_mb).select(
            *cols, F.md5("payload").alias("h")
        )
        a = {tuple(r) for r in ds.collect()}
        b = {tuple(r) for r in ar.collect()}
        assert a == b and a  # identical, and non-empty


def test_arrow_scan_missing_path_raises():
    with pytest.raises(FileNotFoundError):
        W._plan_splits("/nonexistent/nowhere.warc", 4096)
