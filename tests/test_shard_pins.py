"""Byte pins for every archive shard writer and the pair merge.

One fixed ``documents`` frame goes through each writer: JSON lines,
mbox, tar (three shards: plain, .gz and .xz by ``shard % 3``), zip,
WARC and WARC-PDF.  Each shard file is pinned by its sha256, each
manifest by its rows, and ``extract_merge_pairs_fused`` by the sha256
of its sorted rows.  The ids cover every synth rule the writers apply:
the jsonl corrupt slice (doc_id % 23 == 7), the WARC 404 slice
(doc_id % 17 == 3), the WARC-PDF revisits (doc_id % 9 == 7), a NULL
text and a pair with one member.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from pdfparser_spark.sources import jsonl, mbox, tar, warc, zipsrc

_WORDS = "alpha beta gamma delta window join scan merge".split()


def _documents(spark):
    rows = [
        (i, ("en", "de", "fr")[i % 3], " ".join(_WORDS[(i + k) % 8] for k in range(3 + i % 7)))
        for i in range(26)
    ]
    rows[11] = (11, "en", None)
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# writer -> [(shard, file name, count, sha256 of the file)]
PINS = {
    "jsonl": (
        jsonl.write_jsonl_shards,
        "n_records",
        [
            (0, "shard-00000.jsonl", 9, "d4e6d2ec922c0766adf227af04e1d723cc6f8cc9ae1ecfcc77e08ccf7978e1c6"),
            (1, "shard-00001.jsonl", 9, "641aab1aad0896ea3b08e8c33f2340dc33dbaefe5c190c0f5c5e09daba56bdcc"),
            (2, "shard-00002.jsonl", 8, "8c91ffc071f55a2c27b61412b9200e32628615c35b2f035b92e5ffae23f23634"),
        ],
    ),
    "mbox": (
        mbox.write_mbox_shards,
        "n_messages",
        [
            (0, "shard-00000.mbox", 9, "7e284e47535353c36973696c67c77035b2c85d3f71a297d62ed0c89dc8bb8bff"),
            (1, "shard-00001.mbox", 9, "adbb5a6dfb9086989a6ccff690985266a3c3ee60cf9a531d1e9e36f25e4dadd0"),
            (2, "shard-00002.mbox", 8, "9e8daf6855cab15c0260b75f26915f8b442bd41a16c4a8246ef8738e0c81d3ec"),
        ],
    ),
    "tar": (
        tar.write_tar_shards,
        "n_members",
        [
            (0, "shard-00000.tar", 18, "1c62e306d737bb154bb589ed66c66d0955f94e6eac7e7185f1a10f6b4579d984"),
            (1, "shard-00001.tar.gz", 18, "c3eb5b18dde15079b8c6a428cea5795187c35722fef7dfa180a2e39a0647fab1"),
            (2, "shard-00002.tar.xz", 16, "6ebcdbfe8919badede8d5091968e494e7d56209910b80f12aa427b39ae06f326"),
        ],
    ),
    "zip": (
        zipsrc.write_zip_shards,
        "n_members",
        [
            (0, "shard-00000.zip", 18, "e251bad26f71a69370446427f9bd08cefd13a32fb8d08ad0db90f0a75d749428"),
            (1, "shard-00001.zip", 18, "76d49219c9094e78a013b93c9a5484b23fe7a0635ab5909e26e62bb3b8ccc6e2"),
            (2, "shard-00002.zip", 16, "7504911fb972f9ad162a29f09eb8abd509782ffa71a3163b804c1799f8b1f5a1"),
        ],
    ),
    "warc": (
        warc.write_warc_shards,
        "n_records",
        [
            (0, "shard-00000.warc.gz", 9, "15491d26351fd8c497a699959bedba1f5a1e66443eb5f1415c96de72f3941f4d"),
            (1, "shard-00001.warc.gz", 9, "a0dc80791196eac2b88bd8f153ea78f1d129f73089d26d9f42009044b41a398c"),
            (2, "shard-00002.warc.gz", 8, "f8c4de396d56f96d1c372fa48a21f46ae8eef985de65c9b4d132e80cd79ce74a"),
        ],
    ),
    "warc_pdf": (
        warc.write_warc_pdf_shards,
        "n_records",
        [
            (0, "pdf-shard-00000.warc.gz", 9, "2d8d63f7c88b3c1cf310999046d2d3a283549923c6d2dc190fbcc6bb9ea215de"),
            (1, "pdf-shard-00001.warc.gz", 12, "161627459de0034bb356bd554cc156cfa155bbff33800dca1605cce3dbb2b4cb"),
            (2, "pdf-shard-00002.warc.gz", 8, "197a7ae650e387bed145595c3496c6e31406a42f09ee979e0097b4ab163ca756"),
        ],
    ),
}


@pytest.mark.parametrize("kind", sorted(PINS))
def test_shard_bytes_and_manifest(spark, tmp_path, kind):
    write, count, want = PINS[kind]
    out = str(tmp_path / kind)
    manifest = write(_documents(spark), out, n_shards=3).collect()
    got = sorted(
        (r.shard, os.path.basename(r.path), r[count], _sha(r.path)) for r in manifest
    )
    assert all(os.path.dirname(r.path) == out for r in manifest)
    assert sorted(os.listdir(out)) == sorted(name for _s, name, _n, _h in got)
    assert got == want


def test_jsonl_null_text_reads_back_null(spark, tmp_path):
    """A NULL text is written as JSON null, so the permissive read gives
    doc 11 back a NULL text, not the string "None"."""
    out = str(tmp_path / "jsonl")
    jsonl.write_jsonl_shards(_documents(spark), out, n_shards=3).collect()
    back = {r.doc_id: r for r in jsonl.read_jsonl_rescue(spark, out).collect()}
    assert back[11].lang == "en" and back[11].text is None and back[11]._corrupt is None


MERGE_ROWS = 35
MERGE_SHA = "60877cbae891755ce351ba83100d6eecc50aea5732bdfa41f4db0f497becab62"


def test_merge_pairs_rows(spark):
    from pdfparser_spark.stages import extract_merge_pairs_fused, synthesize_corpus

    rows = sorted(
        tuple(r) for r in extract_merge_pairs_fused(synthesize_corpus(_documents(spark))).collect()
    )
    assert len(rows) == MERGE_ROWS
    assert hashlib.sha256(repr(rows).encode()).hexdigest() == MERGE_SHA
