"""ROR data-dump source connector (reference: ror_scripts/fetch.py).

Reference behavior (S1–S5 of SURVEY §2.1):
- fetch.py:19-23 — GET the Zenodo records API for the ror-data community,
  newest first; the newest record's first file link is the dump URL.
- fetch.py:24-31 — download the zip, extract to a temp dir.
- fetch.py:32-35 — exactly one ``*.json`` not containing "schema" must
  exist (hard assert).
- fetch.py:36-41 — the dump is one JSON array; re-emit as JSONL.
- fetch.py:42-45 — upload to object storage.

Spark-first restatement: the URL discovery is a driver-side scalar (there
is nothing to distribute); the payload lands as a local file and is
then read by ``spark.read.schema(...).json`` — JSONL is line-splittable so
a 100 TB dump would parallelize across executors, which the reference's
whole-array ``json.loads`` (fetch.py:37) cannot. We convert, matching the
reference's wire format, but without its decode/re-encode round trip:
``json_array_to_jsonl`` walks the array with ``JSONDecoder.raw_decode``
(every element is still fully validated) and writes each element's own
source text as one line. No list of records is ever built, and the
output is byte-identical to the reference's ``json.dumps`` per record
whenever the dump itself is compact ``json.dumps`` output.

The fetch is also the pipeline's input gate. The walk already holds each
decoded record, so it reads off what ``RorPipeline``'s gate scan would:
the id, the parent edge and the REQUIRED-null flags
(``ror_schema.gate_record``, which owns those rules next to the Spark
gate's). It commits them beside the feed as a small Arrow sidecar
(``gate_path``) together with the byte count and CRC-32 of the feed it
wrote; ``read_gate`` hands them back only for those same bytes. The feed
is then parsed once, by the staging write. The walk vouches only for
records whose gate columns carry the JSON types the schema declares; for
any other dump it writes no sidecar and Spark's FAILFAST scan gates the
feed, as it does for any feed this module did not write.

Network access is isolated behind ``ZenodoClient`` so tests (and this
offline build environment) use ``LocalDumpClient`` with a file fixture.
"""

from __future__ import annotations

import json
import os
import tempfile
import zipfile
import zlib
from dataclasses import dataclass
from typing import Protocol

import pyarrow as pa

from ror_etl_spark.sources.ror_schema import gate_record, required_paths

ZENODO_API = "https://zenodo.org/api/records/?communities=ror-data&sort=mostrecent"


class DumpClient(Protocol):
    def latest_dump_url(self) -> str: ...

    def download(self, url: str, dest_dir: str) -> str:
        """Fetch url into dest_dir, return the local file path."""
        ...


@dataclass
class ZenodoClient:
    """Real network client (requires ``requests``; import-gated so the
    offline environment never touches it)."""

    api_url: str = ZENODO_API

    def latest_dump_url(self) -> str:
        import requests

        records = requests.get(self.api_url, timeout=60).json()
        # newest record's first file, as the reference picks it (fetch.py:23)
        return records["hits"]["hits"][0]["files"][0]["links"]["self"]

    def download(self, url: str, dest_dir: str) -> str:
        import requests

        local = os.path.join(dest_dir, os.path.basename(url) or "dump.zip")
        with requests.get(url, stream=True, timeout=600) as r:
            r.raise_for_status()
            with open(local, "wb") as f:
                for chunk in r.iter_content(chunk_size=1 << 20):
                    f.write(chunk)
        return local


@dataclass
class LocalDumpClient:
    """Offline fake: 'downloads' a local zip (or raw .json) fixture."""

    path: str

    def latest_dump_url(self) -> str:
        return self.path

    def download(self, url: str, dest_dir: str) -> str:
        return url


def pick_data_json(extract_dir: str) -> str:
    """Exactly one non-schema ``*.json`` must exist (fetch.py:32-35)."""
    candidates = [
        f
        for f in os.listdir(extract_dir)
        if f.endswith(".json") and "schema" not in f
    ]
    assert len(candidates) == 1, f"expected exactly one data json, got {candidates}"
    return os.path.join(extract_dir, candidates[0])


def _array_elements(text: str):
    """Yield each element of the JSON array ``text``, decoded, with its
    source text. Each element is parsed by ``raw_decode``, so malformed
    input raises ``json.JSONDecodeError`` where ``json.load`` would; a top
    level that is not an array, a truncated array and trailing data are
    rejected too."""
    decode = json.JSONDecoder().raw_decode
    skip_ws = json.decoder.WHITESPACE.match
    pos = skip_ws(text, 0).end()
    if text[pos : pos + 1] != "[":
        raise json.JSONDecodeError("Expecting '['", text, pos)
    pos = skip_ws(text, pos + 1).end()
    if text[pos : pos + 1] == "]":
        pos = skip_ws(text, pos + 1).end()
    else:
        while True:
            value, end = decode(text, pos)
            yield value, text[pos:end]
            pos = skip_ws(text, end).end()
            delim = text[pos : pos + 1]
            if delim == "]":
                pos = skip_ws(text, pos + 1).end()
                break
            if delim != ",":
                raise json.JSONDecodeError("Expecting ',' delimiter", text, pos)
            pos = skip_ws(text, pos + 1).end()
    if pos != len(text):
        raise json.JSONDecodeError("Extra data", text, pos)


# --- the input gate, from the records the walk decodes ------------------

_GATE_META = "ror_gate"  # the sidecar's schema-metadata key
_REQUIRED = required_paths()


@dataclass(frozen=True)
class FeedGate:
    """The input gate of one feed, as the fetch computed it."""

    edges: pa.Table  # (id, anc): one row per record
    null_counts: dict[str, int]  # rows violating each REQUIRED path

    @property
    def n(self) -> int:
        return self.edges.num_rows


def gate_path(feed: str) -> str:
    """The gate sidecar of ``feed``: a hidden sibling, so a Spark read of
    the feed's directory skips it."""
    head, tail = os.path.split(feed)
    return os.path.join(head, f".{tail}.gate")


def _crc32(path: str) -> int:
    crc = 0
    with open(path, "rb") as f:
        while chunk := f.read(1 << 22):
            crc = zlib.crc32(chunk, crc)
    return crc


def _write_gate(path: str, ids: list, parents: list, nulls: list[int], feed: list[int]) -> bool:
    """Write the sidecar: the edges as an Arrow IPC file, the null counts
    and the feed's (byte count, CRC-32) in its schema metadata. False
    (nothing written) when an id or parent holds a lone surrogate, which
    Spark reads as ``?`` and UTF-8 cannot hold."""
    try:
        table = pa.table({"id": pa.array(ids, pa.string()), "anc": pa.array(parents, pa.string())})
    except UnicodeEncodeError:
        return False
    meta = {
        "feed": feed,
        "nulls": {name: count for (name, _, _), count in zip(_REQUIRED, nulls)},
    }
    table = table.replace_schema_metadata({_GATE_META: json.dumps(meta)})
    with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, table.schema) as writer:
        writer.write_table(table)
    return True


def read_gate(feed: str) -> FeedGate | None:
    """The gate ``json_array_to_jsonl`` wrote with ``feed``, or None when
    there is none or the feed's bytes are not the ones it was computed
    from: the byte count and CRC-32 it recorded must be the feed's now
    (so this reads the whole feed once), and its paths today's REQUIRED
    paths."""
    try:
        size = os.path.getsize(feed)
        with pa.OSFile(gate_path(feed)) as source:
            table = pa.ipc.open_file(source).read_all()
    except FileNotFoundError:
        return None
    meta = json.loads(table.schema.metadata[_GATE_META.encode()])
    if list(meta["nulls"]) != [p[0] for p in _REQUIRED]:
        return None
    recorded_size, recorded_crc = meta["feed"]
    if recorded_size != size or recorded_crc != _crc32(feed):
        return None
    return FeedGate(table.replace_schema_metadata(None), meta["nulls"])


def json_array_to_jsonl(src: str, dest: str) -> int:
    """Whole-file JSON array → JSONL, one element per line (fetch.py:36-41).
    Returns the record count.

    Each element's source text is written through unchanged, except that
    ``\\n``/``\\r`` become spaces so it stays on one line (strict JSON
    strings cannot hold them raw, so they are always whitespace between
    tokens). The lines go to a sibling file that replaces ``dest`` only
    once the whole array has been read, so a bad dump never leaves a
    truncated feed behind.

    The walk decodes every element anyway, so it also computes the
    pipeline's input gate from it (``gate_record``) and commits it beside
    the feed (``gate_path``) with the byte count and CRC-32 of the lines
    written. The gate is renamed into place before the feed is: a crash
    between the two renames leaves a gate whose checksum is the new
    feed's, so ``read_gate`` refuses it for the old one. When any record
    is not vouched for, no gate is written and any older one is removed;
    the pipeline's Spark scan gates that feed."""
    with open(src, encoding="utf-8") as f:
        text = f.read()
    part = dest + ".part"
    gate = gate_path(dest)
    gate_part = gate + ".part"
    n = size = crc = 0
    ids: list | None = []
    parents: list = []
    nulls = [0] * len(_REQUIRED)
    try:
        with open(part, "wb") as out:
            for record, element in _array_elements(text):
                line = (element.replace("\n", " ").replace("\r", " ") + "\n").encode()
                crc = zlib.crc32(line, crc)
                size += len(line)
                out.write(line)
                n += 1
                if ids is not None:
                    seen = gate_record(record)
                    if seen is None:
                        ids, parents = None, []
                        continue
                    ids.append(seen[0])
                    parents.append(seen[1])
                    for i in seen[2]:
                        nulls[i] += 1
        if ids is not None and _write_gate(gate_part, ids, parents, nulls, [size, crc]):
            os.replace(gate_part, gate)
        elif os.path.exists(gate):
            os.remove(gate)
        os.replace(part, dest)
    finally:
        for leftover in (part, gate_part):
            if os.path.exists(leftover):
                os.remove(leftover)
    return n


def fetch_to_jsonl(client: DumpClient, output_path: str) -> int:
    """Full S1–S5 flow: discover → download → extract → pick → JSONL."""
    url = client.latest_dump_url()
    with tempfile.TemporaryDirectory() as tmp:
        local = client.download(url, tmp)
        if local.endswith(".zip"):
            with zipfile.ZipFile(local) as z:
                z.extractall(tmp)
            data_json = pick_data_json(tmp)
        else:
            data_json = local
        return json_array_to_jsonl(data_json, output_path)
