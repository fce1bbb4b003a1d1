"""Binary-hostile axis (round 13, VERDICT r12 #5): PAYLOAD SHAPE.

Two layers, because blob-level hostility cannot all be expressed
through a parquet text column:

1. CORPUS layer — ``make_adversarial_corpus.py --binary-hostile``
   rewrites documents with zero-byte / NULL / ~100 KB / control-byte
   texts; the binary+text operator families are oracle-compared over
   it here (the full 159-query sweep result is recorded in
   BASELINE.md r13).
2. BLOB layer — corrupt magic, truncated headers, zero-byte and
   non-UTF8 payloads, and a >=256 MB object are driven directly at
   the decoder factories and the binaryFile scan, where they would
   actually arrive from an object store.

Engine behavior pinned:

- strict ``make_decoder`` (the fixture-parity decoder) RAISES on any
  malformed container — a bad blob in the synthesized fixture is a
  bug;
- ``make_safe_decoder`` quarantines the same inputs as error rows —
  the a14 bad-records posture, the one to ship against real object
  stores where one corrupt blob must not kill a 100 TB decode stage;
- the binaryFile scan handles a 256 MB object and a zero-byte object
  in one listing (whole-file rows; length + md5 integrity preserved).
"""

import hashlib
import os
import shutil
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from data_lake_staging_engine_spark.operators.udfs import (
    make_decoder,
    make_encoder,
    make_safe_decoder,
    make_wav_builder,
)
from data_lake_staging_engine_spark.registry import registry
from data_lake_staging_engine_spark.testing import TESTDATA_TABLES, compare
from scripts.make_adversarial_corpus import build

_REG = registry()


@pytest.fixture(scope="module")
def bin_sf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("binary_hostile_sf"))
    build(d, "/root/testdata/sf0.001", binary_hostile=True)
    return d


@pytest.fixture(scope="module")
def bin_duck(bin_sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{bin_sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def test_corpus_has_all_payload_classes(bin_duck):
    """Non-vacuousness: every hostile class is really present."""
    q = bin_duck.execute
    n_empty = q("SELECT count(*) FROM documents WHERE text = ''").fetchone()[0]
    n_null = q(
        "SELECT count(*) FROM documents WHERE text IS NULL"
    ).fetchone()[0]
    n_huge = q(
        "SELECT count(*) FROM documents WHERE strlen(text) > 50000"
    ).fetchone()[0]
    n_ctl = q(
        "SELECT count(*) FROM documents WHERE contains(text, chr(1))"
    ).fetchone()[0]
    assert min(n_empty, n_null, n_huge, n_ctl) > 0, (
        n_empty, n_null, n_huge, n_ctl,
    )
    # and n_chars stayed consistent with the rewritten text
    bad = q(
        "SELECT count(*) FROM documents "
        "WHERE text IS NOT NULL AND n_chars != length(text)"
    ).fetchone()[0]
    assert bad == 0


# The operators a hostile payload column actually flows through: the
# binary family (a26 reads region-derived blobs — included as the
# binaryFile entry point; f08/f09 push payloads across the Arrow
# boundary; g09 assembles binary records) and the text operators that
# feed them.
_BINARY_FAMILY = [
    "a26_scan_binaryfile",
    "a27_scan_text",
    "a30_landing_reconcile",
    "f08_multimodal_decode",
    "f08b_multimodal_quarantine",
    "f09_multimodal_framesample",
    "g09_multimodal_record",
    "g05_text_tokenize",
    "g08_text_stats",
    "g14_text_clean",
    "g24_pii_scrub",
]


@pytest.mark.parametrize("name", _BINARY_FAMILY)
def test_binary_family_oracle_parity(spark, bin_sf_dir, bin_duck, name):
    rq = _REG[name]
    assert rq.oracle is not None
    res = compare(name, rq.fn(spark, bin_sf_dir), bin_duck, rq.oracle)
    assert res.ok, f"{name}: {res.detail}"


def _bmp(doc_id=3):
    enc = make_encoder()
    m, payload = enc(doc_id, "x")
    assert m == "image"
    return payload


def test_strict_decoder_raises_on_malformed_blobs():
    dec = make_decoder()
    good = _bmp()
    assert dec(good, "image")["width"] == 3 % 61 + 1
    with pytest.raises(ValueError, match="BMP"):
        dec(b"PK" + good[2:], "image")  # wrong magic (a zip, say)
    with pytest.raises(Exception):
        dec(good[:12], "image")  # truncated header
    with pytest.raises(Exception):
        dec(b"", "image")  # zero-byte object
    wav = make_wav_builder()(7)
    with pytest.raises(Exception):
        dec(wav[:20], "audio")  # truncated RIFF
    with pytest.raises(Exception):
        dec(b"RIFX" + wav[4:], "audio")  # corrupt magic
    with pytest.raises(NotImplementedError):
        dec(good, "hologram")  # unknown modality


def test_safe_decoder_quarantines_instead_of_raising():
    safe = make_safe_decoder()
    good = _bmp()
    feats, err = safe(good, "image")
    assert err is None and feats["width"] == 3 % 61 + 1
    for payload, modality in [
        (b"PK" + good[2:], "image"),
        (good[:12], "image"),
        (b"", "image"),
        (make_wav_builder()(7)[:20], "audio"),
        (None, "audio"),
        (good, "hologram"),
    ]:
        feats, err = safe(payload, modality)
        assert err is not None, (payload[:8] if payload else payload, modality)
        assert all(v is None for v in feats.values())
    # non-UTF8 bytes as a text payload are opaque, not an error
    feats, err = safe(b"\xff\xfe\x00\x80", "text")
    assert err is None and all(v is None for v in feats.values())


def test_binaryfile_scan_handles_huge_and_empty_objects(spark):
    """The a26 entry point over a landing with a >=256 MB object and a
    zero-byte object.  The huge object comes back as ONE whole-file
    row with exact length and content digest — no truncation.  The
    zero-byte object is SILENTLY ABSENT: Spark's file sources drop
    0-length files at split planning, so a failed upload never reaches
    the scan (axis finding, round 13).  Pinned here and documented in
    a26's docstring — a landing-vs-scan reconciliation (file-listing
    count vs scanned count) is the operator-level guard a 100 TB
    pipeline should run when zero-byte objects mean upstream failure."""
    out = tempfile.mkdtemp(prefix="dlse_binhuge_")
    try:
        big = os.path.join(out, "big.bin")
        chunk = bytes(range(256)) * 4096  # 1 MiB, non-constant
        h = hashlib.md5()
        with open(big, "wb") as fh:
            for _ in range(256):
                fh.write(chunk)
                h.update(chunk)
        open(os.path.join(out, "empty.bin"), "wb").close()

        rows = {
            r.file_name: r
            for r in spark.read.format("binaryFile")
            .load(out)
            .select(
                F.element_at(F.split("path", "/"), -1).alias("file_name"),
                F.col("length"),
                F.md5("content").alias("content_md5"),
            )
            .collect()
        }
        assert rows["big.bin"].length == 256 << 20
        assert rows["big.bin"].content_md5 == h.hexdigest()
        # Spark drops 0-length files at split planning: the empty object
        # never reaches the scan.  If a Spark upgrade changes this, the
        # a26 docstring's reconciliation note must change with it.
        assert "empty.bin" not in rows
        assert len(rows) == 1
    finally:
        shutil.rmtree(out, ignore_errors=True)
