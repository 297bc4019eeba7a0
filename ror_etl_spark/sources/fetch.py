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

Network access is isolated behind ``ZenodoClient`` so tests (and this
offline build environment) use ``LocalDumpClient`` with a file fixture.
"""

from __future__ import annotations

import json
import os
import tempfile
import zipfile
from dataclasses import dataclass
from typing import Protocol

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
    """Yield the source text of each element of the JSON array ``text``.
    Each element is parsed by ``raw_decode``, so malformed input raises
    ``json.JSONDecodeError`` where ``json.load`` would; a top level that is
    not an array, a truncated array and trailing data are rejected too."""
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
            _, end = decode(text, pos)
            yield text[pos:end]
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


def json_array_to_jsonl(src: str, dest: str) -> int:
    """Whole-file JSON array → JSONL, one element per line (fetch.py:36-41).
    Returns the record count.

    Each element's source text is written through unchanged, except that
    ``\\n``/``\\r`` become spaces so it stays on one line (strict JSON
    strings cannot hold them raw, so they are always whitespace between
    tokens). The lines go to a sibling file that replaces ``dest`` only
    once the whole array has been read, so a bad dump never leaves a
    truncated feed behind."""
    with open(src, encoding="utf-8") as f:
        text = f.read()
    part = dest + ".part"
    n = 0
    try:
        with open(part, "w", encoding="utf-8") as out:
            for element in _array_elements(text):
                out.write(element.replace("\n", " ").replace("\r", " ") + "\n")
                n += 1
        os.replace(part, dest)
    finally:
        if os.path.exists(part):
            os.remove(part)
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
