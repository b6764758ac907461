"""MBOX / MIME e-mail source (RFC 4155 mbox, RFC 5322 messages,
RFC 2045 MIME + base64) — the e-mail-archive ingestion shape: corpora
routinely arrive as mailbox dumps whose PDFs ride as attachments.

Writer side builds messages BYTE-DETERMINISTICALLY by hand (multipart/
mixed: a text/plain note + the document's PDF as a base64
application/pdf attachment) into ``mboxrd``-quoted shard files, one per
``doc_id % n_shards``, sorted by doc_id — reproducible shard bytes,
write-temp + atomic rename (the shared writer, sources/shards.py).

Reader side splits shards on RFC 4155 ``From `` separator lines and
parses each message with the stdlib :mod:`email` parser — an
INDEPENDENT implementation of the MIME grammar, so the round-trip
doubles as an interop check, not a self-fulfilling one.  A message the
parser rejects costs that message (counted), never the task.

Reference parity: none — the reference has no sources tier; this
extends the engine's ingestion surface like sources/warc.py.
"""

from __future__ import annotations

import base64
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..runner import map_rows
from .shards import write_shards


def msg_date(doc_id: int) -> str:
    """Deterministic RFC 5322 date: doc_id seconds past a fixed epoch."""
    import datetime

    dt = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    dt += datetime.timedelta(seconds=int(doc_id))
    return dt.strftime("%a, %d %b %Y %H:%M:%S +0000")


def build_eml(doc_id: int, text: str) -> bytes:
    """One RFC 5322 message: multipart/mixed with a text/plain note and
    the doc's ASCII-armored PDF as a base64 application/pdf attachment
    (76-char lines per RFC 2045 §6.8).  CRLF line endings throughout."""
    from ..synth import build_document

    pdf = build_document(doc_id, text)["bytes"]
    b64 = base64.b64encode(pdf).decode("ascii")
    b64_lines = "\r\n".join(b64[i : i + 76] for i in range(0, len(b64), 76))
    boundary = f"==pdfspark-{doc_id}=="
    note = f"Please find document {doc_id} attached.\r\nFrom the archive team.\r\n"
    return (
        f"From: sender{doc_id % 7}@corpus.example\r\n"
        f"To: archive@corpus.example\r\n"
        f"Subject: document {doc_id}\r\n"
        f"Date: {msg_date(doc_id)}\r\n"
        f"Message-ID: <doc-{doc_id}@corpus.example>\r\n"
        "MIME-Version: 1.0\r\n"
        f'Content-Type: multipart/mixed; boundary="{boundary}"\r\n'
        "\r\n"
        f"--{boundary}\r\n"
        "Content-Type: text/plain; charset=us-ascii\r\n"
        "\r\n"
        f"{note}"
        f"--{boundary}\r\n"
        "Content-Type: application/pdf\r\n"
        "Content-Transfer-Encoding: base64\r\n"
        f'Content-Disposition: attachment; filename="doc{doc_id}.pdf"\r\n'
        "\r\n"
        f"{b64_lines}\r\n"
        f"--{boundary}--\r\n"
    ).encode("ascii")


def _mboxrd_quote(body: bytes) -> bytes:
    """mboxrd body quoting: '>'*k + 'From ' lines gain one more '>'."""
    out = []
    for line in body.split(b"\n"):
        stripped = line.lstrip(b">")
        if stripped.startswith(b"From "):
            line = b">" + line
        out.append(line)
    return b"\n".join(out)


def _mbox_shard(shard: int, rows: list) -> tuple[str, bytes, int]:
    parts = []
    for did, text in rows:
        eml = _mboxrd_quote(build_eml(did, text or ""))
        parts.append(b"From archive@corpus.example %s\n" % msg_date(did).encode("ascii"))
        parts.append(eml)
        if not eml.endswith(b"\n"):
            parts.append(b"\n")
        parts.append(b"\n")  # RFC 4155 blank separator line
    return f"shard-{shard:05d}.mbox", b"".join(parts), len(rows)


def write_mbox_shards(
    documents: DataFrame, out_dir: str, n_shards: int = 8
) -> DataFrame:
    """Distributed deterministic writer (``sources.shards``):
    ``documents(doc_id, text)`` -> ``out_dir/shard-NNNNN.mbox`` (mboxrd
    quoting) plus the ``(shard, path, n_messages)`` manifest."""
    return write_shards(
        documents.select("doc_id", "text"), out_dir, n_shards, "n_messages", _mbox_shard
    )


def split_mbox(data: bytes) -> Iterator[bytes]:
    """RFC 4155 split: messages begin at lines starting ``From `` (the
    separator is not part of the message); mboxrd un-quoting is the
    reader's job (stdlib email doesn't do it)."""
    cur: list = []
    for line in data.split(b"\n"):
        if line.startswith(b"From "):
            if cur:
                yield b"\n".join(cur)
            cur = []
            continue
        stripped = line.lstrip(b">")
        if stripped.startswith(b"From ") and line.startswith(b">"):
            line = line[1:]  # mboxrd un-quote one level
        cur.append(line)
    if cur:
        yield b"\n".join(cur)


def parse_messages(raw: bytes) -> Iterator[dict]:
    """Messages in one mbox shard -> dicts with headers + the decoded
    PDF attachment (None when absent/undecodable).  Parsing uses the
    stdlib :mod:`email` package — an independent MIME implementation."""
    import email
    import email.policy

    for msg_bytes in split_mbox(raw):
        if not msg_bytes.strip():
            continue
        try:
            msg = email.message_from_bytes(msg_bytes, policy=email.policy.default)
            pdf = None
            fname = None
            n_parts = 0
            for part in msg.walk():
                if part.is_multipart():
                    continue
                n_parts += 1
                if part.get_content_type() == "application/pdf":
                    pdf = part.get_payload(decode=True)
                    fname = part.get_filename()
            yield {
                "message_id": str(msg.get("Message-ID") or ""),
                "subject": str(msg.get("Subject") or ""),
                "sender": str(msg.get("From") or ""),
                "date": str(msg.get("Date") or ""),
                "n_parts": n_parts,
                "filename": fname,
                "pdf": bytes(pdf) if pdf is not None else None,
                "error": None,
            }
        except Exception as e:  # a bad message costs itself, never the task
            yield {
                "message_id": "",
                "subject": "",
                "sender": "",
                "date": "",
                "n_parts": 0,
                "filename": None,
                "pdf": None,
                "error": f"{type(e).__name__}: {e}",
            }


def read_mbox(spark: SparkSession, path: str) -> DataFrame:
    """``binaryFile`` over the shard dir -> one stateless mapInArrow
    parsing every message (shard-level parallelism, like sources/warc.py
    — mbox is not safely splittable, so a shard is the work unit)."""
    files = spark.read.format("binaryFile").load(os.path.join(path, "*.mbox"))

    def parse(content):
        rows = []
        try:
            rows.extend(parse_messages(content))
        except Exception as e:  # corrupt shard: contained skip
            rows.append(
                {
                    "message_id": "", "subject": "", "sender": "",
                    "date": "", "n_parts": 0, "filename": None,
                    "pdf": None, "error": f"{type(e).__name__}: {e}",
                }
            )
        return rows

    return map_rows(
        files.select("content"),
        (
            "message_id string, subject string, sender string, date string, "
            "n_parts int, filename string, pdf binary, error string"
        ),
        parse,
    )
