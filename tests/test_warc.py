"""WARC source: roundtrip, streaming gzip members, poison files, and
feeding the extraction stage — the Common-Crawl-style ingest boundary."""

from __future__ import annotations

import gzip

import pytest

from entity_linking_spark.schema import make_html
from entity_linking_spark.sources import warc


def _http_headers(status: int = 200) -> bytes:
    # header lines only — the writer adds the blank-line separator
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: text/html\r\n"
        "Server: test".encode()
    )


def _records(n: int, host: str):
    recs = []
    for i in range(n):
        url = f"https://{host}/page/{i:04d}"
        recs.append(
            {
                "url": url,
                "date": f"2026-01-0{1 + i % 9}T12:00:{i % 60:02d}Z",
                "http_headers": _http_headers(200 if i % 4 else 404),
                "body": make_html(f"doc {i} body words on {host}", url),
            }
        )
    return recs


def test_warc_gz_roundtrip(spark, tmp_path):
    recs_a, recs_b = _records(7, "a.example"), _records(5, "b.example")
    warc.write_warc_file(str(tmp_path / "seg-00000.warc.gz"), recs_a)
    warc.write_warc_file(str(tmp_path / "seg-00001.warc.gz"), recs_b)
    out = warc.read_warc(spark, str(tmp_path)).collect()
    assert len(out) == 12
    by_url = {r.url: r for r in out}
    for rec in recs_a + recs_b:
        row = by_url[rec["url"]]
        assert bytes(row.html) == rec["body"]  # headers stripped exactly
        assert row.warc_type == "response"
        assert row.parse_error is None
        assert row.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ") == rec["date"]
    statuses = {r.url: r.http_status for r in out}
    assert statuses["https://a.example/page/0000"] == 404
    assert statuses["https://a.example/page/0001"] == 200


def test_warc_plain_and_non_http_payloads(spark, tmp_path):
    recs = _records(3, "c.example")
    # a resource record with a raw (non-http) payload
    recs.append(
        {
            "url": "https://c.example/raw",
            "date": "2026-02-01T00:00:00Z",
            "body": b"\x00\x01raw-bytes",
            "warc_type": "resource",
            "content_type": "application/octet-stream",
        }
    )
    # a request record: read_warc keeps response records only
    recs.append(
        {
            "url": "https://c.example/req",
            "date": "2026-02-01T00:00:01Z",
            "http_headers": b"GET / HTTP/1.1\r\nHost: c.example",
            "body": b"",
            "warc_type": "request",
        }
    )
    path = str(tmp_path / "plain.warc")
    warc.write_warc_file(path, recs, gzip_per_record=False)
    out = warc.read_warc(spark, [path]).collect()
    assert {r.url for r in out} == {r["url"] for r in recs[:3]}


def test_warc_poison_file_channels_error(spark, tmp_path):
    warc.write_warc_file(str(tmp_path / "good.warc.gz"), _records(4, "d.example"))
    # valid gzip, garbage inside — must not kill the stage
    (tmp_path / "bad.warc.gz").write_bytes(gzip.compress(b"not a warc at all"))
    out = warc.read_warc(spark, str(tmp_path)).collect()
    good = [r for r in out if r.parse_error is None]
    bad = [r for r in out if r.parse_error is not None]
    assert len(good) == 4
    assert len(bad) == 1 and "ValueError" in bad[0].parse_error
    assert bad[0].source_file.endswith("bad.warc.gz")


def test_warc_poison_member_resyncs_at_next_member(spark, tmp_path):
    """A poison RECORD inside a per-record-gzip segment costs only its
    own member: records after it are parsed (round-4 advice — the old
    parser silently dropped the remainder of the file), and the error
    row carries the records-read count."""
    recs = _records(6, "r.example")
    good = [warc._record_bytes(r, gzip_per_record=True) for r in recs]
    # a structurally broken WARC record (bad version line) as its OWN
    # valid gzip member, spliced between members 2 and 3
    poison = gzip.compress(b"GARBAGE/9.9\r\nNot-A-Header\r\n\r\nxx\r\n\r\n")
    blob = b"".join(good[:3]) + poison + b"".join(good[3:])
    (tmp_path / "seg.warc.gz").write_bytes(blob)
    out = warc.read_warc(spark, str(tmp_path)).collect()
    ok = [r for r in out if r.parse_error is None]
    err = [r for r in out if r.parse_error is not None]
    assert {r.url for r in ok} == {r["url"] for r in recs}  # ALL 6 survive
    assert len(err) == 1
    assert "bad WARC version line" in err[0].parse_error
    assert "resumed at gzip member" in err[0].parse_error
    assert "[records_read=3]" in err[0].parse_error


def test_warc_headerless_poison_member_spares_next_member(spark, tmp_path):
    """A garbage member with NO CRLFCRLF anywhere makes the header scan
    read ahead into its good successor before failing — only the
    garbage member may be lost, not the good record glued onto it by
    the scan (the resync must poison the member where the failed record
    STARTED, re-parsing the successor's already-pulled bytes)."""
    recs = _records(6, "g.example")
    good = [warc._record_bytes(r, gzip_per_record=True) for r in recs]
    poison = gzip.compress(b"GARBAGE WITH NO HEADER TERMINATOR AT ALL")
    for splice_at in (0, 3):  # at file start and mid-file
        blob = (
            b"".join(good[:splice_at]) + poison + b"".join(good[splice_at:])
        )
        seg = tmp_path / f"seg{splice_at}.warc.gz"
        seg.write_bytes(blob)
        out = warc.read_warc(spark, str(seg)).collect()
        ok = [r for r in out if r.parse_error is None]
        err = [r for r in out if r.parse_error is not None]
        # ALL 6 good records survive, incl. the one right after the poison
        assert {r.url for r in ok} == {r["url"] for r in recs}, splice_at
        assert len(err) == 1, splice_at
        assert "bad WARC version line" in err[0].parse_error


def test_warc_truncated_final_member_keeps_prefix(spark, tmp_path):
    """A segment truncated mid-record (killed upload) yields every
    complete record plus one error row stating the count."""
    recs = _records(4, "t.example")
    good = [warc._record_bytes(r, gzip_per_record=True) for r in recs]
    # truncate the LAST member's compressed bytes mid-stream
    blob = b"".join(good[:3]) + good[3][: len(good[3]) // 2]
    (tmp_path / "seg.warc.gz").write_bytes(blob)
    out = warc.read_warc(spark, str(tmp_path)).collect()
    ok = [r for r in out if r.parse_error is None]
    err = [r for r in out if r.parse_error is not None]
    assert {r.url for r in ok} == {r["url"] for r in recs[:3]}
    assert len(err) == 1 and "[records_read=3]" in err[0].parse_error


def test_poison_member_straddling_a_read_costs_one_row(spark, tmp_path):
    """A poison member larger than one 64 KiB read arrives as several
    chunks with the same member index; the resync must drop ALL of them
    (one error row naming the next member), not resume inside the
    poisoned member and fail a second time on its tail."""
    import random

    recs = [
        {
            "url": f"https://s.example/{i}",
            "date": "2026-01-01T00:00:00Z",
            "body": random.Random(i).randbytes(40_000),  # incompressible
        }
        for i in range(8)
    ]
    members = [warc._record_bytes(r, gzip_per_record=True) for r in recs]
    bad = warc._record_bytes(recs[3], gzip_per_record=False)
    members[3] = gzip.compress(bad.replace(b"WARC/1.0", b"XARC/1.0", 1), mtime=0)
    # member 3 straddles the first 64 KiB read boundary of its bytes
    start = sum(map(len, members[:3]))
    assert start < 2 * 65536 < start + len(members[3])
    (tmp_path / "seg.warc.gz").write_bytes(b"".join(members))
    out = warc.read_warc(spark, str(tmp_path)).collect()
    ok = [r for r in out if r.parse_error is None]
    err = [r for r in out if r.parse_error is not None]
    assert {r.url for r in ok} == {r["url"] for i, r in enumerate(recs) if i != 3}
    assert len(err) == 1
    assert "bad WARC version line b'XARC/1.0'" in err[0].parse_error
    assert "resumed at gzip member 4" in err[0].parse_error
    assert "[records_read=3]" in err[0].parse_error


def test_plain_warc_poison_skips_rest_of_file(spark, tmp_path):
    """A plain .warc is one member: a bad record mid-file keeps the
    records before it and costs the rest of the file, which the single
    error row states."""
    recs = _records(6, "p.example")
    good = [warc._record_bytes(r, gzip_per_record=False) for r in recs]
    good[3] = good[3].replace(b"WARC/1.0", b"XARC/1.0", 1)
    (tmp_path / "plain.warc").write_bytes(b"".join(good))
    out = warc.read_warc(spark, str(tmp_path)).collect()
    ok = [r for r in out if r.parse_error is None]
    err = [r for r in out if r.parse_error is not None]
    assert {r.url for r in ok} == {r["url"] for r in recs[:3]}
    assert len(err) == 1
    assert "bad WARC version line" in err[0].parse_error
    assert "remainder of file skipped" in err[0].parse_error
    assert "[records_read=3]" in err[0].parse_error


def test_warc_read_ignores_inprogress_leftovers(spark, tmp_path):
    """Stale '.inprogress-<attempt>' twins of a committed segment (a
    killed writer attempt) must NOT be re-ingested: they would yield
    duplicate and/or truncated-poison rows."""
    recs = _records(5, "s.example")
    warc.write_warc_file(str(tmp_path / "part-00000.warc.gz"), recs)
    committed = (tmp_path / "part-00000.warc.gz").read_bytes()
    (tmp_path / "part-00000.warc.gz.inprogress-42").write_bytes(
        committed[: len(committed) // 2]
    )
    out = warc.read_warc(spark, str(tmp_path)).collect()
    assert len(out) == 5
    assert all(r.parse_error is None for r in out)
    assert len({r.url for r in out}) == 5  # no duplicates


def test_warc_write_leaves_foreign_inprogress_alone(spark, tmp_path):
    """write_warc must NOT sweep sibling .inprogress files on commit:
    under task speculation that file can be another LIVE attempt of the
    same partition, and deleting it would fail that attempt's rename.
    Stale leftovers are harmless — the read side excludes them."""
    import pandas as pd
    from pyspark.sql import functions as F

    out_dir = tmp_path / "out"
    out_dir.mkdir()
    stale = out_dir / "part-00000.warc.gz.inprogress-99999"
    stale.write_bytes(b"\x1f\x8b truncated leftover")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://w.example/{i}" for i in range(4)],
                "warc_ts": pd.to_datetime(["2026-02-01T00:00:00"] * 4),
                "html": [b"<html>%d</html>" % i for i in range(4)],
            }
        )
    ).withColumn("html", F.col("html").cast("binary"))
    res = warc.write_warc(df.repartition(1), str(out_dir)).collect()
    assert len(res) == 1 and res[0].n_records == 4
    names = {p.name for p in out_dir.iterdir()}
    # committed segment landed; the foreign in-progress file untouched
    assert names == {"part-00000.warc.gz", stale.name}, names
    # and a re-ingest of the directory sees only the committed rows
    out = warc.read_warc(spark, str(out_dir)).collect()
    assert len(out) == 4 and all(r.parse_error is None for r in out)


def test_warc_read_matches_wet_wat_but_skips_sidecars(spark, tmp_path):
    """Common Crawl's derived files are WARC-format with names like
    '*.warc.wet.gz' — the directory listing must match them — while
    manifest/checksum sidecars ('warc.paths.gz', '*.sha256', Hadoop
    '.crc') must be skipped, not ingested as poison rows."""
    recs = _records(3, "wet.example")
    warc.write_warc_file(str(tmp_path / "seg-00000.warc.wet.gz"), recs)
    (tmp_path / "warc.paths.gz").write_bytes(gzip.compress(b"a/b.warc.gz\n"))
    (tmp_path / "seg-00000.warc.wet.gz.sha256").write_bytes(b"deadbeef\n")
    (tmp_path / ".seg-00000.warc.wet.gz.crc").write_bytes(b"\x00\x01")
    out = warc.read_warc(spark, str(tmp_path)).collect()
    assert len(out) == 3
    assert all(r.parse_error is None for r in out)


def test_warc_documents_feeds_extraction(spark, tmp_path):
    """End to end: WARC -> input-table shape -> byte-identical extract."""
    from entity_linking_spark.operators.extract import extract_text, with_extracted_text

    recs = _records(8, "e.example")
    warc.write_warc_file(str(tmp_path / "seg.warc.gz"), recs)
    docs = warc.warc_documents(warc.read_warc(spark, str(tmp_path)))
    assert docs.columns == ["url", "warc_ts", "html"]
    rows = {r.url: r for r in with_extracted_text(docs).collect()}
    # the 404s (every 4th record) are curated out by warc_documents
    assert set(rows) == {r["url"] for i, r in enumerate(recs) if i % 4}
    for rec in recs:
        if rec["url"] in rows:
            assert rows[rec["url"]].text_extracted == extract_text(rec["body"])


def test_pipeline_from_warc_identical_clusters(spark, tmp_path):
    """Flagship integration: the SAME corpus ingested from WARC segments
    must produce exactly the clusters the parquet path produces — ties
    S12 into the end-to-end linkage job (pipeline --input-warc)."""
    from entity_linking_spark.pipeline import run_pipeline
    from entity_linking_spark.schema import load_fixtures

    fx = load_fixtures(spark, n_docs=200, n_entities=40)
    # fixtures synthesize a few extra near-dup docs beyond n_docs
    docs = fx["documents"].select("url", "warc_ts", "html").collect()
    n_docs = len(docs)
    # 4 segment files, Common-Crawl layout
    for seg in range(4):
        recs = [
            {
                "url": r.url,
                "date": r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "http_headers": b"HTTP/1.1 200 OK\r\nContent-Type: text/html",
                "body": bytes(r.html),
            }
            for i, r in enumerate(docs)
            if i % 4 == seg
        ]
        warc.write_warc_file(str(tmp_path / f"seg-{seg:05d}.warc.gz"), recs)
    warc_docs = warc.warc_documents(warc.read_warc(spark, str(tmp_path)))
    base = run_pipeline(
        spark, fx["documents"], fx["aliases"], str(tmp_path / "wd_parquet")
    )
    from_warc = run_pipeline(
        spark, warc_docs, fx["aliases"], str(tmp_path / "wd_warc")
    )
    a = {(r.url, r.cluster_id) for r in base.collect()}
    b = {(r.url, r.cluster_id) for r in from_warc.collect()}
    assert a == b
    assert len(a) == n_docs


def test_warc_ingest_checkpoint_resume(spark, tmp_path):
    """The s0_ingest composition the pipeline CLI uses: once the stage
    snapshot exists, a rerun reads it WITHOUT touching the WARC files —
    proven by deleting the source directory before the second run."""
    import shutil

    from entity_linking_spark.sources import io as sio

    warcdir = tmp_path / "warc"
    warcdir.mkdir()
    warc.write_warc_file(str(warcdir / "seg-00000.warc.gz"), _records(10, "h.example"))
    wd = str(tmp_path / "wd")

    def build():
        return warc.warc_documents(warc.read_warc(spark, str(warcdir)))

    first = sio.run_stage(spark, wd, "s0_ingest", build).collect()
    shutil.rmtree(warcdir)  # re-parse is now impossible
    resumed = sio.run_stage(spark, wd, "s0_ingest", build).collect()
    assert {r.url for r in first} == {r.url for r in resumed}
    assert len(resumed) == 7  # the three 404s are curated out


def test_warc_writer_deterministic(tmp_path):
    a, b = tmp_path / "a.warc.gz", tmp_path / "b.warc.gz"
    warc.write_warc_file(str(a), _records(3, "f.example"))
    warc.write_warc_file(str(b), _records(3, "f.example"))
    assert a.read_bytes() == b.read_bytes()
    # and each record is its own gzip member: a stream cut at any member
    # boundary still yields whole records (Common Crawl's seekability).
    # Find the boundary by decompressing member 1 and using the consumed
    # length — searching for \x1f\x8b could match inside DEFLATE data.
    import zlib

    payload = a.read_bytes()
    d = zlib.decompressobj(wbits=31)
    d.decompress(payload)
    second_member = len(payload) - len(d.unused_data)
    assert 0 < second_member < len(payload)
    assert gzip.decompress(payload[second_member:]).startswith(b"WARC/1.0")


def test_warc_streaming_batches(tmp_path, monkeypatch):
    """The per-file parse yields BOUNDED batches (a big segment never
    materializes whole): with tiny thresholds a 25-record file arrives
    as multiple DataFrames whose concatenation is the full file."""
    import pandas as pd

    path = str(tmp_path / "seg.warc.gz")
    recs = _records(25, "g.example")
    warc.write_warc_file(path, recs)
    monkeypatch.setattr(warc, "_BATCH_ROWS", 10)
    batches = list(warc._read_one_file(path, {"response"}))
    assert len(batches) == 3
    assert [len(b) for b in batches] == [10, 10, 5]
    merged = pd.concat(batches, ignore_index=True)
    assert list(merged["url"]) == [r["url"] for r in recs]
    # byte-threshold flush too
    monkeypatch.setattr(warc, "_BATCH_ROWS", 10**9)
    monkeypatch.setattr(warc, "_BATCH_BYTES", 1)
    assert len(list(warc._read_one_file(path, {"response"}))) == 25


def test_warc_empty_dir_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no .warc files"):
        warc.read_warc(spark, str(tmp_path))


def test_warc_distributed_sink_roundtrip(spark, tmp_path):
    """write_warc (distributed egress) -> read_warc roundtrips the
    input-table frame exactly: urls, timestamps, and html bytes."""
    from entity_linking_spark.schema import load_fixtures

    fx = load_fixtures(spark, n_docs=120, n_entities=25)
    docs = fx["documents"].select("url", "warc_ts", "html")
    outdir = str(tmp_path / "egress")
    manifest = warc.write_warc(docs, outdir, n_segments=4).collect()
    assert len(manifest) == 4
    assert sum(r.n_records for r in manifest) == docs.count()
    back = warc.warc_documents(warc.read_warc(spark, outdir))
    orig = {(r.url, r.warc_ts, bytes(r.html)) for r in docs.collect()}
    rt = {(r.url, r.warc_ts, bytes(r.html)) for r in back.collect()}
    assert rt == orig
    # no .inprogress attempt files left behind after the rename commit
    import os

    assert all(f.endswith(".warc.gz") for f in os.listdir(outdir))


def test_warc_sink_skips_null_rows_and_keeps_subsecond_ts(spark, tmp_path):
    """Null url/ts/html rows are counted + skipped (poison-row
    philosophy, not a dead task); sub-second timestamps roundtrip at
    full precision via the fractional WARC-Date form."""
    import datetime

    from pyspark.sql import Row

    rows = [
        Row(url="https://s.example/a", warc_ts=datetime.datetime(2026, 5, 1, 8, 0, 0, 500000),
            html=b"<p>a</p>"),
        Row(url="https://s.example/b", warc_ts=datetime.datetime(2026, 5, 1, 8, 0, 1),
            html=b"<p>b</p>"),
        Row(url=None, warc_ts=datetime.datetime(2026, 5, 1), html=b"<p>x</p>"),
        Row(url="https://s.example/c", warc_ts=None, html=b"<p>y</p>"),
        Row(url="https://s.example/d", warc_ts=datetime.datetime(2026, 5, 1), html=None),
    ]
    df = spark.createDataFrame(rows)
    outdir = str(tmp_path / "sink")
    (m,) = warc.write_warc(df, outdir, n_segments=1).collect()
    assert m.n_records == 2 and m.n_skipped == 3
    back = {r.url: r for r in warc.read_warc(spark, outdir).collect()}
    assert back["https://s.example/a"].warc_ts.microsecond == 500000
    assert back["https://s.example/b"].warc_ts.microsecond == 0


# --- hypothesis property tests (driver-side parser, no Spark) -----------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(
    bodies=st.lists(st.binary(min_size=0, max_size=400), min_size=1, max_size=8),
    gz=st.booleans(),
)
def test_warc_roundtrip_arbitrary_bodies(tmp_path_factory, bodies, gz):
    """Framing is Content-Length-driven, so ANY body bytes roundtrip —
    including bodies that contain the \\r\\n\\r\\n record separator or
    start with WARC/gzip magic."""
    import pandas as pd

    d = tmp_path_factory.mktemp("warc_prop")
    path = str(d / ("p.warc.gz" if gz else "p.warc"))
    # adversarial prefix: separator + fake header inside a BODY
    bodies = [b"\r\n\r\nWARC/1.0\r\n" + b for b in bodies]
    recs = [
        {
            "url": f"https://p.example/{i}",
            "date": "2026-04-01T00:00:00Z",
            "body": body,
            "warc_type": "resource",
            "content_type": "application/octet-stream",
        }
        for i, body in enumerate(bodies)
    ]
    warc.write_warc_file(path, recs, gzip_per_record=gz)
    out = pd.concat(
        warc._read_one_file(path, {"resource"}), ignore_index=True
    )
    assert list(out["url"]) == [r["url"] for r in recs]
    assert [bytes(b) for b in out["html"]] == bodies
    assert out["parse_error"].isna().all()
