"""WARC ingestion: Common-Crawl-style web-archive files -> the input table.

The north-star input is an Iceberg table of Common-Crawl-style web pages
(url, warc_ts, html, ...); Common Crawl itself publishes WARC files
(public ISO 28500 / WARC 1.0 spec), one gzip member per record so that
records are independently seekable. This source reads those files
Spark-first at the right granularity for the format: WARC is NOT
line-splittable, so the unit of parallelism is the FILE (Common Crawl
ships ~1 GB segments, thousands per crawl — file-level parallelism
saturates any cluster). File paths are distributed as a tiny DataFrame
and each task STREAMS its file through pyarrow.fs, yielding bounded
Arrow batches (_BATCH_ROWS records / _BATCH_BYTES payload per flush) —
unlike the binaryFile DataSource, a 1 GB archive never materializes as a
single row or a single batch, and no binary column approaches Arrow's
2 GiB int32-offset capacity.

One record parser (_iter_warc_records_resync) frames every file: a
.warc.gz file reaches it as per-gzip-member chunks, a plain .warc file
as a single member. Per-record failures land in a ``parse_error``
column (same poison-row philosophy as operators/multimodal.py): one
corrupt record in a 400-file batch must not kill the ingest stage, and
it costs only the member it started in.

Reference parity: the reference ingests WikiExtractor JSONL dumps
(SURVEY §2.1 S1-S4); WARC is the equivalent ingest boundary for the
webtext payload this graft targets. No reference code models it — the
implementation follows the public WARC 1.0 specification only.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from entity_linking_spark.runtime import resolve_fs

WARC_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("record_id", StringType(), True),
        StructField("warc_type", StringType(), True),
        StructField("content_type", StringType(), True),
        StructField("http_status", IntegerType(), True),
        StructField("html", BinaryType(), True),
        StructField("source_file", StringType(), False),
        StructField("parse_error", StringType(), True),
    ]
)

_CRLF2 = b"\r\n\r\n"
_NOT_CRLF = re.compile(rb"[^\r\n]")

# flush thresholds for the streaming parse: a yielded Arrow batch stays
# well under the 2 GiB binary-column offset limit and executor memory
# holds one batch, not one decompressed segment
_BATCH_ROWS = 4096
_BATCH_BYTES = 64 << 20


def _record_id(url: str, ts: str) -> str:
    """Deterministic urn:uuid record id (spec requires globally unique;
    a content hash keeps fixtures reproducible)."""
    h = hashlib.sha256(f"{url}|{ts}".encode()).hexdigest()
    return (
        f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    )


def _record_bytes(rec: dict, gzip_per_record: bool) -> bytes:
    """One WARC 1.0 record (optionally as its own gzip member).

    Record dict: url, date (ISO 'YYYY-MM-DDTHH:MM:SSZ'), body (bytes),
    optional http_headers (bytes, prepended as an application/http
    payload), optional warc_type (default 'response')."""
    warc_type = rec.get("warc_type", "response")
    body = rec["body"]
    if rec.get("http_headers") is not None:
        payload = rec["http_headers"] + _CRLF2 + body
        ctype = f"application/http; msgtype={warc_type}"
    else:
        payload = body
        ctype = rec.get("content_type", "application/octet-stream")
    header = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: {_record_id(rec['url'], rec['date'])}\r\n"
        f"WARC-Date: {rec['date']}\r\n"
        f"WARC-Target-URI: {rec['url']}\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    ).encode()
    record_bytes = header + payload + _CRLF2
    if not gzip_per_record:
        return record_bytes
    member = io.BytesIO()
    # mtime pinned for byte-deterministic fixtures
    with gzip.GzipFile(fileobj=member, mode="wb", mtime=0) as gz:
        gz.write(record_bytes)
    return member.getvalue()


def write_warc_file(
    path: str,
    records: list[dict],
    gzip_per_record: bool = True,
) -> None:
    """Fixture/egress writer: WARC 1.0 records, one gzip member each
    (the Common Crawl packaging that makes records seekable), or a plain
    uncompressed .warc when ``gzip_per_record`` is False. Record dict
    contract: see _record_bytes. Serializes EVERY record in memory
    before opening the destination — a malformed record dict raises
    with nothing written, never a truncated file."""
    body = b"".join(_record_bytes(rec, gzip_per_record) for rec in records)
    fs, fpath = resolve_fs(path)
    # compression=None: pyarrow would otherwise gzip AGAIN based on the
    # .gz extension — the per-record member framing is the format
    with fs.open_output_stream(fpath, compression=None) as f:
        f.write(body)


def _iter_member_chunks(raw) -> Iterator[tuple[int, bytes]]:
    """(member_index, decompressed_chunk) pieces of a concatenated-member
    gzip stream, with chunk boundaries ALIGNED to member boundaries (a
    chunk never spans two members) — the framing the record-level resync
    below needs. Uses zlib.decompressobj per member (unused_data marks
    the boundary exactly; no magic-byte scanning, which can false-match
    inside compressed data). zlib errors propagate: corrupt COMPRESSED
    bytes have no reliably findable next boundary, so that tier stays a
    file-level poison row. A truncated final member yields whatever
    decompressed cleanly; the record parser reports the truncation."""
    import zlib

    d = zlib.decompressobj(31)  # wbits=31: gzip wrapper
    idx = 0
    data = b""
    while True:
        if not data:
            data = raw.read(65536)
            if not data:
                return
        out = d.decompress(data)
        data = b""
        if out:
            yield idx, out
        if d.eof:
            data = d.unused_data
            d = zlib.decompressobj(31)
            idx += 1


def _iter_warc_records_resync(
    chunks: Iterator[tuple[int, bytes]],
) -> Iterator[tuple[str, dict | str]]:
    """The record parser for every WARC file: parse records from
    member-aligned (member_index, bytes) chunks, yielding ("ok", record)
    or ("err", message). A plain .warc file is one member, read as
    (0, chunk) pieces.

    A record-level parse failure poisons only the member where the
    failed record STARTED: its bytes are dropped through the end of that
    member — including chunks of it not yet pulled, since a member
    larger than one read arrives as several chunks with the same index —
    and parsing resumes at the next member boundary, re-using any later
    members' bytes the header scan had already pulled into the buffer (a
    garbage member with no CRLFCRLF makes the scan read ahead into its
    good successor — those successor records must survive). With Common
    Crawl's one-record-per-member framing exactly the bad record is
    lost, not the remainder of a 1 GB segment (the round-4 advice
    finding); in a plain file the rest of the file is skipped.

    The buffer is a bytearray: appends are amortized O(1) and consumed
    bytes are cut from its front in O(1), so a multi-MB record arriving
    as many chunks is read in linear time."""
    buf = bytearray()
    base = 0  # absolute stream offset of buf[0]
    # [member_index, absolute_end_offset] per member with pulled bytes,
    # pruned as they are consumed — locates the member owning any offset
    spans: list[list[int]] = []

    def pull() -> bool:
        try:
            idx, c = next(chunks)
        except StopIteration:
            return False
        if spans and spans[-1][0] == idx:
            spans[-1][1] += len(c)
        else:
            spans.append([idx, base + len(buf) + len(c)])
        buf.extend(c)
        return True

    def consume(n: int) -> None:
        nonlocal base
        del buf[:n]
        base += n
        while spans and spans[0][1] <= base:
            spans.pop(0)

    while True:
        # skip the inter-record CRLF separator left from the previous
        # record (it would otherwise match as an empty header block)
        while not (m := _NOT_CRLF.search(buf)):
            consume(len(buf))
            if not pull():
                return
        consume(m.start())
        try:
            scanned = 0
            while (end := buf.find(_CRLF2, scanned)) < 0:
                scanned = max(len(buf) - 3, 0)
                if not pull():
                    raise ValueError("truncated WARC header block")
            lines = bytes(buf[:end]).split(b"\r\n")
            if not lines[0].startswith(b"WARC/"):
                raise ValueError(f"bad WARC version line {lines[0][:40]!r}")
            headers = {}
            for line in lines[1:]:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode()] = v.strip().decode(
                    "utf-8", "replace"
                )
            length = int(headers["content-length"])
            if length < 0:
                # a negative length would mis-frame the stream
                raise ValueError(f"negative WARC Content-Length {length}")
            start = end + 4
            while len(buf) < start + length + 4:  # + trailing CRLFCRLF
                if not pull():
                    raise ValueError("truncated WARC payload")
        except (ValueError, KeyError) as e:
            # nothing of the failed record was consumed: buf[0] is its
            # first byte, and spans[0] the member it started in
            poisoned, poison_end = spans[0]
            consume(poison_end - base)
            while not buf and pull() and spans[-1][0] == poisoned:
                consume(len(buf))
            where = (
                f"resumed at gzip member {spans[0][0]}"
                if buf
                else "remainder of file skipped"
            )
            yield "err", (
                f"{type(e).__name__}: {e} "
                f"(poisoned member {poisoned}; {where})"
            )
            continue
        payload = bytes(buf[start : start + length])
        consume(start + length)
        yield "ok", {"headers": headers, "payload": payload}


def _parse_http_payload(payload: bytes) -> tuple[int | None, bytes]:
    """Split an application/http payload into (status, body)."""
    if _CRLF2 in payload:
        head, body = payload.split(_CRLF2, 1)
        first = head.split(b"\r\n", 1)[0]
        parts = first.split()
        if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
            try:
                return int(parts[1]), body
            except ValueError:
                pass
    return None, payload


def read_warc(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """WARC ``response`` records -> DataFrame(url, warc_ts, ..., html,
    parse_error); request, metadata and other record types are skipped.

    ``paths`` is a directory, a single file, or an explicit list; local
    or scheme-qualified (pyarrow.fs resolves s3://, hdfs://, ...). One
    task streams one file — the natural WARC granularity (the format is
    not mid-file splittable; Common Crawl parallelism is across its
    thousands of ~1 GB segment files). A corrupt record or file yields
    a parse_error row, never a dead stage. Every file goes through one
    record parser, and a poison record costs only the member it started
    in: in per-record-gzip files (Common Crawl's framing) that is its
    own gzip member and parsing RESUMES at the next member boundary; an
    uncompressed .warc file is a single member, so there the remainder
    of the file is skipped. The error row says which, and how many
    records parsed before it.
    Writer leftovers ('*.inprogress-*') are never picked up.
    """
    from pyarrow import fs as pafs

    if isinstance(paths, str):
        fs, root = resolve_fs(paths)
        info = fs.get_file_info(root)
        if info.type == pafs.FileType.Directory:
            sel = pafs.FileSelector(root, recursive=True)
            # COMMITTED segments only: 'part-N.warc.gz.inprogress-<attempt>'
            # leftovers of a killed writer attempt are excluded (write_warc
            # commits by rename, so an .inprogress twin of a committed
            # segment means duplicate + truncated rows on re-ingest).
            # The extension list covers Common Crawl's derived WET/WAT
            # files (WARC-format, '*.warc.wet.gz' / '*.warc.wat.gz') but
            # stays a whitelist — a bare '.warc' substring would also
            # ingest manifest/sidecar files ('warc.paths.gz', '*.sha256',
            # Hadoop '.crc') as pure poison rows
            warc_exts = (
                ".warc", ".warc.gz",
                ".warc.wet", ".warc.wet.gz",
                ".warc.wat", ".warc.wat.gz",
            )
            file_list = sorted(
                f.path if "://" not in paths else f"{paths.split('://')[0]}://{f.path}"
                for f in fs.get_file_info(sel)
                if f.is_file
                and f.base_name.endswith(warc_exts)
                and ".inprogress" not in f.base_name
            )
        else:
            file_list = [paths]
    else:
        file_list = list(paths)
    if not file_list:
        raise ValueError(f"no .warc files under {paths!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath in pdf["path"]:
                yield from _read_one_file(fpath, {"response"})

    n_tasks = min(len(file_list), spark.sparkContext.defaultParallelism)
    # round-robin (no key): hashing the paths would stack several files
    # on one task and leave others empty — with F files into F buckets,
    # ~F/e buckets land empty and the max bucket gates the stage
    paths_df = spark.createDataFrame(
        [(p,) for p in file_list], schema="path string"
    ).repartition(n_tasks)
    return paths_df.mapInPandas(run, schema=WARC_SCHEMA)


def _empty_cols() -> dict[str, list]:
    return {
        "url": [], "warc_date": [], "record_id": [], "warc_type": [],
        "content_type": [], "http_status": [], "html": [], "parse_error": [],
    }


def _flush_cols(cols: dict[str, list], fpath: str) -> pd.DataFrame:
    # timestamps parsed ONCE per batch vectorized (per-record
    # pd.to_datetime format-guessing was 10x the whole parse cost)
    ts = pd.to_datetime(
        pd.Series(cols.pop("warc_date"), dtype="object"),
        utc=True, errors="coerce", format="ISO8601",
    ).dt.tz_localize(None)
    out = pd.DataFrame(cols)
    out.insert(1, "warc_ts", ts)
    out.insert(7, "source_file", fpath)
    out["http_status"] = out["http_status"].astype("Int32")
    return out


def _read_one_file(fpath: str, keep: set[str]) -> Iterator[pd.DataFrame]:
    """Stream one WARC file as a SEQUENCE of bounded DataFrames: batches
    flush at _BATCH_ROWS records or _BATCH_BYTES of payload, so a ~1 GB
    Common-Crawl segment (several GB decompressed) never materializes in
    executor memory, and no single Arrow binary column approaches the
    2 GiB int32-offset capacity."""
    cols = _empty_cols()
    pending = 0  # payload bytes accumulated since the last flush

    def emit(url=None, warc_date=None, record_id=None, warc_type=None,
             content_type=None, http_status=None, html=None,
             parse_error=None) -> None:
        cols["url"].append(url)
        cols["warc_date"].append(warc_date)
        cols["record_id"].append(record_id)
        cols["warc_type"].append(warc_type)
        cols["content_type"].append(content_type)
        cols["http_status"].append(http_status)
        cols["html"].append(html)
        cols["parse_error"].append(parse_error)

    n_parsed = 0
    try:
        fs, p = resolve_fs(fpath)
        # compression=None: keep pyarrow's extension-triggered gzip layer
        # out of the way — member decompression is explicit below
        with fs.open_input_stream(p, compression=None) as raw:
            # member-aware decompression: a poison RECORD costs one gzip
            # member, not the rest of the file; a plain file is one member
            chunks = (
                _iter_member_chunks(raw)
                if fpath.endswith(".gz")
                else ((0, c) for c in iter(lambda: raw.read(65536), b""))
            )
            for status_tag, rec in _iter_warc_records_resync(chunks):
                if status_tag == "err":
                    emit(parse_error=f"{rec} [records_read={n_parsed}]")
                    continue
                n_parsed += 1
                h = rec["headers"]
                wtype = h.get("warc-type", "")
                if wtype not in keep:
                    continue
                ctype = h.get("content-type", "")
                status, body = (
                    _parse_http_payload(rec["payload"])
                    if ctype.startswith("application/http")
                    else (None, rec["payload"])
                )
                emit(
                    url=h.get("warc-target-uri"),
                    warc_date=h.get("warc-date"),
                    record_id=h.get("warc-record-id"),
                    warc_type=wtype,
                    content_type=ctype,
                    http_status=status,
                    html=body,
                )
                pending += len(body) if body is not None else 0
                if len(cols["url"]) >= _BATCH_ROWS or pending >= _BATCH_BYTES:
                    yield _flush_cols(cols, fpath)
                    cols, pending = _empty_cols(), 0
    except Exception as e:  # noqa: BLE001 — per-file poison channel
        # the tier with no resync point: open failures and corrupt
        # COMPRESSED bytes (zlib errors have no findable next boundary)
        emit(parse_error=f"{type(e).__name__}: {e} [records_read={n_parsed}]")
    if cols["url"]:
        yield _flush_cols(cols, fpath)


def warc_documents(df: DataFrame) -> DataFrame:
    """Project a read_warc frame onto the pipeline's input-table shape
    (url, warc_ts, html — BASELINE.json input_hint); text/lang are
    produced downstream by the extraction stage. Drops error rows and
    non-2xx responses — the standard Common-Crawl curation gate."""
    from pyspark.sql import functions as F

    return (
        df.where(F.col("parse_error").isNull() & F.col("url").isNotNull())
        .where(F.col("http_status").isNull() | F.col("http_status").between(200, 299))
        .select("url", "warc_ts", "html")
    )


def write_warc(
    df: DataFrame,
    path: str,
    n_segments: int | None = None,
) -> DataFrame:
    """Distributed WARC egress: the sink half of the source/sink pair.

    ``df`` is the input-table shape (url, warc_ts, html); each task
    STREAMS its partition into one ``part-{pid:05d}.warc.gz`` segment
    under ``path`` (per-record gzip members, Common Crawl's layout) —
    records are written batch by batch, never accumulated, so segment
    size is bounded only by the partitioning the caller chose. Each
    attempt writes a private ``.inprogress-<attempt>`` file and renames
    it into place only on success, so a killed or speculative attempt
    never leaves a truncated segment at the final path (rename is atomic
    on local/HDFS filesystems; object stores emulate it with a copy —
    still attempt-private either way). Rows with a null url/warc_ts/html
    are SKIPPED and counted, not fatal — the read side's poison-row
    philosophy, mirrored. Returns a DataFrame (segment, n_records,
    n_skipped), one row per written file, as the action's result; the
    write happens when it is consumed.
    """
    fs, root = resolve_fs(path)
    fs.create_dir(root, recursive=True)
    if n_segments is not None:
        df = df.repartition(n_segments)

    out_schema = StructType(
        [
            StructField("segment", StringType(), False),
            StructField("n_records", IntegerType(), False),
            StructField("n_skipped", IntegerType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        seg = f"{path.rstrip('/')}/part-{ctx.partitionId():05d}.warc.gz"
        tmp = f"{seg}.inprogress-{ctx.taskAttemptId()}"
        n, skipped, stream = 0, 0, None
        wfs, wtmp = resolve_fs(tmp)
        try:
            for pdf in batches:
                ok = pdf["url"].notna() & pdf["warc_ts"].notna() & pdf["html"].notna()
                skipped += int((~ok).sum())
                pdf = pdf[ok]
                if not len(pdf):
                    continue
                # one vectorized strftime per batch (per-record
                # pd.Timestamp().strftime was the read side's 10x lesson);
                # fractional seconds kept when present so the roundtrip
                # is exact at timestamp precision, not just whole seconds
                dates = pdf["warc_ts"].dt.strftime("%Y-%m-%dT%H:%M:%S")
                frac = pdf["warc_ts"].dt.microsecond
                dates = dates.where(
                    frac == 0,
                    dates + "." + frac.map("{:06d}".format).str.rstrip("0"),
                ) + "Z"
                if stream is None:  # no empty segment files
                    stream = wfs.open_output_stream(wtmp, compression=None)
                for url, date, html in zip(pdf["url"], dates, pdf["html"]):
                    rec = {
                        "url": url,
                        "date": date,
                        "http_headers": b"HTTP/1.1 200 OK\r\nContent-Type: text/html",
                        "body": bytes(html),
                    }
                    stream.write(_record_bytes(rec, gzip_per_record=True))
                    n += 1
        except BaseException:
            if stream is not None:
                stream.close()
                stream = None
                wfs.delete_file(wtmp)
            raise
        if stream is not None:
            stream.close()
            wfs.move(wtmp, resolve_fs(seg)[1])
            # NO sweep of sibling .inprogress twins here: with task
            # speculation two attempts of this partition run
            # concurrently, and the first committer deleting the other
            # attempt's live .inprogress file would fail that attempt's
            # rename. Stale leftovers of killed attempts are harmless —
            # read_warc's listing excludes '.inprogress' files — and can
            # be swept by any out-of-band directory cleanup.
        if n or skipped:
            yield pd.DataFrame(
                {"segment": [seg], "n_records": [n], "n_skipped": [skipped]}
            )

    return df.mapInPandas(run, schema=out_schema)
