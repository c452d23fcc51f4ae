"""Sources & sinks: extraction dispatch, error capture, email parsing,
partitioned append layout."""

from __future__ import annotations

import os
import tempfile
import time

import pyspark.sql.functions as F
import pytest


def test_file_kind_dispatch(spark):
    from sortify_spark.sources.extractors import file_kind

    df = spark.createDataFrame(
        [("a/b/doc.TXT",), ("x.pdf",), ("y.docx",), ("z.jpeg",), ("w.exe",)],
        ["path"],
    )
    kinds = [r["k"] for r in df.select(file_kind(F.col("path")).alias("k")).collect()]
    assert kinds == ["txt", "pdf", "docx", "image", "unsupported"]


def test_extract_text_txt_and_error_capture(spark):
    from sortify_spark.sources.extractors import extract_text, read_binary_files

    with tempfile.TemporaryDirectory() as tmp:
        with open(os.path.join(tmp, "hello.txt"), "w") as f:
            f.write("hello wörld")
        with open(os.path.join(tmp, "broken.pdf"), "wb") as f:
            f.write(b"%PDF-fake")
        files = read_binary_files(spark, tmp)
        out = {r["kind"]: r for r in extract_text(files).collect()}
    assert out["txt"]["text"] == "hello wörld"
    assert out["txt"]["extract_error"] is None
    # a structureless pdf fails INSIDE its row (no streams to parse),
    # captured per-row, not a job failure
    assert out["pdf"]["text"] is None
    assert "no text operators" in out["pdf"]["extract_error"]


def test_extract_text_kernel_injection(spark):
    from sortify_spark.sources.extractors import extract_text, read_binary_files

    with tempfile.TemporaryDirectory() as tmp:
        with open(os.path.join(tmp, "doc.pdf"), "wb") as f:
            f.write(b"%PDF-fake")
        files = read_binary_files(spark, tmp)
        out = extract_text(
            files, kernels={"pdf": lambda b: f"decoded {len(b)} bytes"}
        ).first()
    assert out["text"] == "decoded 9 bytes"


def test_extract_pdf_docx_library_branch(monkeypatch):
    """When pypdf / python-docx ARE importable, the kernels extract for
    real (page-concat / paragraph-join).  The libraries are absent in
    this container, so fake parsers stand in through the import gate."""
    from sortify_spark.sources import extractors

    class FakePage:
        def __init__(self, t):
            self._t = t

        def extract_text(self):
            return self._t

    class FakePdfReader:
        def __init__(self, fh):
            assert fh.read(4) == b"%PDF"
            self.pages = [FakePage("page one"), FakePage(None)]

    class FakePara:
        def __init__(self, t):
            self.text = t

    def fake_document(fh):
        assert fh.read(2) == b"PK"
        doc = type("Doc", (), {})()
        doc.paragraphs = [FakePara("alpha"), FakePara("beta")]
        return doc

    monkeypatch.setattr(extractors, "_PdfReader", FakePdfReader)
    monkeypatch.setattr(extractors, "_DocxDocument", fake_document)
    assert extractors.extract_pdf(b"%PDF-rest") == "page one\n"
    assert extractors.extract_docx(b"PK-zip-rest") == "alpha\nbeta"
    assert extractors.extract_pdf(None) is None
    assert extractors.extract_docx(None) is None


def test_extract_pdf_docx_stdlib_fallback(monkeypatch):
    """Without the libraries the kernels extract FOR REAL via the
    stdlib parsers (zip+XML for DOCX, content-stream Tj/TJ decode for
    PDF); only genuinely unparseable bytes raise (captured per row)."""
    import pytest

    from sortify_spark.sources import extractors

    monkeypatch.setattr(extractors, "_PdfReader", None)
    monkeypatch.setattr(extractors, "_DocxDocument", None)
    assert (
        extractors.extract_pdf(_minimal_pdf_bytes("Real PDF text"))
        == "Real PDF text"
    )
    assert (
        extractors.extract_docx(_minimal_docx_bytes("Real DOCX text"))
        == "Real DOCX text"
    )
    # escapes + TJ arrays decode too
    stream = rb"BT [ (A\(b\)) -120 (c) ] TJ (\110i) Tj ET"
    pdf = _pdf_with_stream(stream)
    assert extractors.extract_pdf(pdf) == "A(b)cHi"
    # FlateDecode streams inflate via zlib
    import zlib as _z

    flate = _pdf_with_stream(_z.compress(b"BT (Deflated body) Tj ET"))
    assert extractors.extract_pdf(flate) == "Deflated body"
    with pytest.raises(ValueError):
        extractors.extract_pdf(b"%PDF-fake")
    with pytest.raises(Exception):
        extractors.extract_docx(b"PK-fake")


def test_html_to_text(spark):
    from sortify_spark.sources.email import html_to_text

    html = (
        "<html><head><style>p {color: red}</style></head>"
        "<body><p>Hello &amp; <b>world</b></p>"
        "<script>alert('x')</script>  line&nbsp;two</body></html>"
    )
    df = spark.createDataFrame([(html,)], ["h"])
    out = df.select(html_to_text("h").alias("t")).first()["t"]
    assert out == "Hello & world line two"


RAW_EMAIL = (
    "Message-ID: <abc@x>\r\n"
    "Subject: Quarterly report\r\n"
    "From: alice@example.com\r\n"
    "To: bob@example.com\r\n"
    "Date: Mon, 1 Jan 2024 10:00:00 +0000\r\n"
    "\r\n"
    "<p>Please find the <b>report</b> attached.</p>"
)


def test_parse_raw_emails_and_import(spark):
    from sortify_spark.sources.email import emails_to_documents, parse_raw_emails

    parsed = parse_raw_emails(spark.createDataFrame([(RAW_EMAIL,)], ["raw"]))
    row = parsed.first()
    assert row["message_id"] == "<abc@x>"
    assert row["subject"] == "Quarterly report"
    assert row["sender"] == "alice@example.com"
    assert row["body_text"] == "Please find the report attached."

    doc = emails_to_documents(parsed, owner_id="u1").first()
    assert doc["_id"] == "<abc@x>"
    assert doc["file_type"] == "email"
    assert doc["owner_id"] == "u1"
    assert doc["email_metadata"]["sender"] == "alice@example.com"
    assert doc["extracted_text"] == "Please find the report attached."


MULTIPART_EMAIL = (
    "Message-ID: <mp1@x>\r\n"
    "Subject: With files\r\n"
    "From: alice@example.com\r\n"
    'Content-Type: multipart/mixed; boundary="=_Part_42.7"\r\n'
    "\r\n"
    "--=_Part_42.7\r\n"
    "Content-Type: text/plain\r\n"
    "\r\n"
    "See attachments.\r\n"
    "--=_Part_42.7\r\n"
    "Content-Type: application/pdf; name=report.pdf\r\n"
    'Content-Disposition: attachment; filename="report.pdf"\r\n'
    "Content-Transfer-Encoding: base64\r\n"
    "\r\n"
    + "QUJDREVGR0g=\r\n"  # "ABCDEFGH" → 8 decoded bytes
    + "--=_Part_42.7\r\n"
    "Content-Type: image/png\r\n"
    "Content-Disposition: attachment; filename=chart.png\r\n"
    "\r\n"
    + "aWNvbg==\r\n"  # "icon" → 4 decoded bytes
    + "--=_Part_42.7--\r\n"
)


def test_parse_attachments(spark):
    from sortify_spark.sources.email import parse_attachments

    atts = parse_attachments(
        spark.createDataFrame([(MULTIPART_EMAIL,)], ["raw"])
    ).collect()
    by_name = {r["att_filename"]: r for r in atts}
    assert set(by_name) == {"report.pdf", "chart.png"}
    assert by_name["report.pdf"]["message_id"] == "<mp1@x>"
    assert by_name["report.pdf"]["att_content_type"] == "application/pdf"
    assert by_name["report.pdf"]["att_size_bytes"] == 8
    assert by_name["chart.png"]["att_content_type"] == "image/png"
    assert by_name["chart.png"]["att_size_bytes"] == 4
    # non-multipart messages produce no attachment rows
    from tests.test_sources import RAW_EMAIL

    none = parse_attachments(
        spark.createDataFrame([(RAW_EMAIL,)], ["raw"])
    ).collect()
    assert none == []


def test_append_rows_layout(spark):
    from sortify_spark.sources.sinks import append_rows
    from sortify_spark.tables import load_table
    from tests.conftest import SF_DIR

    events = load_table(spark, SF_DIR, "events").limit(200)
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "logs")
        append_rows(events, out, ts_col="ts", owner_col="user_id")
        # date partition directories exist
        parts = [d for d in os.listdir(out) if d.startswith("p_date=")]
        assert parts, "expected p_date=… partition dirs"
        back = spark.read.parquet(out)
        assert back.count() == 200
        # partition filter prunes: only matching date read, and the
        # pruning happens at plan level (PartitionFilters on the scan)
        one = parts[0].split("=")[1]
        pruned = back.filter(F.col("p_date") == one)
        assert pruned.count() > 0
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "p_date" in plan.split(
            "PartitionFilters"
        )[1][:200]


def test_read_corpus_formats_roundtrip(spark, tmp_path):
    """CSV / JSONL / parquet corpus drops all land on the same canonical
    schema with identical rows; malformed records are quarantined, not
    fatal."""
    from sortify_spark.sources.formats import read_corpus
    from sortify_spark.tables import load_table
    from tests.conftest import SF_DIR

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .filter(F.col("doc_id") < 40)
        # newlines/quotes in text stress the csv writer+reader round-trip
    )
    want = sorted(tuple(r) for r in docs.collect())

    pq = str(tmp_path / "pq"); docs.write.parquet(pq)
    cv = str(tmp_path / "cv")
    docs.write.option("header", "true").option("quoteAll", "true").csv(cv)
    jl = str(tmp_path / "jl"); docs.write.json(jl)

    for fmt, path, opts in (
        ("parquet", pq, None),
        ("csv", cv, {"escape": '"'}),
        ("jsonl", jl, None),
    ):
        out = read_corpus(spark, path, fmt, csv_options=opts)
        assert out.filter(F.col("ingest_error").isNotNull()).count() == 0, fmt
        got = sorted(
            tuple(r)
            for r in out.select(
                "doc_id", "text", "lang", "source", "n_chars"
            ).collect()
        )
        assert got == want, fmt

    # malformed jsonl rows quarantine instead of failing
    bad = str(tmp_path / "bad")
    import os

    os.makedirs(bad)
    with open(os.path.join(bad, "part-0.jsonl"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n')
        f.write("{not json at all\n")
    out = read_corpus(spark, bad, "jsonl")
    rows = out.collect()
    assert len(rows) == 2
    assert sum(r["ingest_error"] is not None for r in rows) == 1
    ok = [r for r in rows if r["ingest_error"] is None][0]
    assert ok["doc_id"] == 1 and ok["text"] == "ok"

    # unsupported format is an explicit error
    import pytest

    with pytest.raises(ValueError, match="unsupported"):
        read_corpus(spark, pq, "xml")


def _pdf_with_stream(stream: bytes) -> bytes:
    """Wrap an arbitrary content stream in minimal valid PDF structure."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )


def _minimal_pdf_bytes(text: str) -> bytes:
    """A structurally valid single-page PDF with one text-draw operator —
    real bytes through the real parser when pypdf is installed."""
    stream = f"BT /F1 12 Tf 72 720 Td ({text}) Tj ET".encode()
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> "
        b"endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )


def _minimal_docx_bytes(text: str) -> bytes:
    """A minimal OOXML package (content types + rels + document part)."""
    import io
    import zipfile

    ns = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
            'content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Default Extension="rels" ContentType="application/vnd.'
            'openxmlformats-package.relationships+xml"/>'
            '<Override PartName="/word/document.xml" ContentType="application'
            '/vnd.openxmlformats-officedocument.wordprocessingml.document.'
            'main+xml"/></Types>',
        )
        z.writestr(
            "_rels/.rels",
            '<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
            '2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" '
            'Target="word/document.xml"/></Relationships>',
        )
        z.writestr(
            "word/_rels/document.xml.rels",
            '<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
            '2006/relationships"/>',
        )
        z.writestr(
            "word/document.xml",
            f'<?xml version="1.0"?><w:document xmlns:w="{ns}"><w:body>'
            f"<w:p><w:r><w:t>{text}</w:t></w:r></w:p>"
            f"</w:body></w:document>",
        )
    return buf.getvalue()


def test_extract_real_bytes_golden(spark):
    """VERDICT r2 item 7 → closed in r4: real (structurally valid)
    PDF/DOCX bytes through the NON-monkeypatched dispatch extract the
    planted sentence FOR REAL in both worlds — via pypdf/python-docx
    when installed, via the stdlib fallback parsers otherwise."""
    from sortify_spark.sources.extractors import extract_text, read_binary_files

    with tempfile.TemporaryDirectory() as tmp:
        with open(os.path.join(tmp, "note.txt"), "w") as f:
            f.write("plain text row")
        with open(os.path.join(tmp, "real.pdf"), "wb") as f:
            f.write(_minimal_pdf_bytes("Hello Spark PDF"))
        with open(os.path.join(tmp, "real.docx"), "wb") as f:
            f.write(_minimal_docx_bytes("Hello Spark DOCX"))
        files = read_binary_files(spark, tmp)
        out = {r["kind"]: r for r in extract_text(files).collect()}

    assert out["txt"]["text"] == "plain text row"
    assert out["txt"]["extract_error"] is None
    assert "Hello Spark PDF" in out["pdf"]["text"]
    assert out["pdf"]["extract_error"] is None
    assert "Hello Spark DOCX" in out["docx"]["text"]
    assert out["docx"]["extract_error"] is None


def test_load_table_normalizes_timestamp_ntz(spark):
    """VERDICT r2 item 8: the driver's events parquet drifted to
    timestamp[us] WITHOUT timezone in round 2 (Spark reads TIMESTAMP_NTZ,
    which unix_micros rejects).  load_table must normalize it so the
    next data-type drift is caught here before the driver sees it."""
    from pyspark.sql import types as T

    from sortify_spark.tables import load_table

    with tempfile.TemporaryDirectory() as tmp:
        spark.sql(
            "SELECT 1 AS event_id, "
            "CAST('2026-01-02 03:04:05.123456' AS TIMESTAMP_NTZ) AS ts"
        ).write.parquet(f"{tmp}/events.parquet")
        df = load_table(spark, tmp, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        [row] = df.select(F.unix_micros("ts").alias("us")).collect()
    # session tz is pinned UTC → naive reinterpreted as UTC, exactly
    # DuckDB's naive-as-UTC epoch_us
    import datetime as dt

    expected = int(
        dt.datetime(
            2026, 1, 2, 3, 4, 5, 123456, tzinfo=dt.timezone.utc
        ).timestamp() * 1_000_000
    )
    assert row["us"] == expected


def test_export_training_shards_roundtrip(spark):
    """Shard export writes one file per shard dir, every row lands in its
    md5-bucket shard, and the union reads back exactly the input."""
    import glob

    from sortify_spark.operators.sampling import hash_bucket
    from sortify_spark.sources.sinks import export_training_shards
    from sortify_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "n_chars"
    )
    n = docs.count()
    with tempfile.TemporaryDirectory() as tmp:
        export_training_shards(docs, f"{tmp}/shards", n_shards=8)
        back = spark.read.parquet(f"{tmp}/shards")
        assert back.count() == n
        # every row is in the shard its id hashes to
        mismatched = back.filter(
            F.col("shard") != hash_bucket("doc_id", 8).cast("int")
        ).count()
        assert mismatched == 0
        # one parquet file per shard directory
        for d in glob.glob(f"{tmp}/shards/shard=*"):
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1, d


def test_export_training_shards_multi_file(spark):
    """files_per_shard decouples write parallelism from shard count: a
    shard spans >1 file, the md5 assignment is unchanged, and the
    read-back equals the input exactly (VERDICT r3 item 4)."""
    import glob

    from sortify_spark.operators.sampling import hash_bucket
    from sortify_spark.sources.sinks import export_training_shards
    from sortify_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "n_chars"
    )
    n = docs.count()
    with tempfile.TemporaryDirectory() as tmp:
        export_training_shards(
            docs, f"{tmp}/shards", n_shards=4, files_per_shard=3
        )
        back = spark.read.parquet(f"{tmp}/shards")
        assert back.count() == n
        # assignment identical to the single-file layout
        assert (
            back.filter(
                F.col("shard") != hash_bucket("doc_id", 4).cast("int")
            ).count()
            == 0
        )
        # at least one shard directory spans multiple files, and no
        # directory exceeds the parallelism bound (each write task emits
        # at most one file per shard dir without a record cap)
        counts = []
        for d in glob.glob(f"{tmp}/shards/shard=*"):
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            counts.append(len(files))
            assert len(files) <= 3, d
        assert max(counts) > 1, counts
        # the record cap additionally splits oversized task outputs
        export_training_shards(
            docs,
            f"{tmp}/capped",
            n_shards=2,
            max_records_per_file=10,
        )
        capped = spark.read.parquet(f"{tmp}/capped")
        assert capped.count() == n
        for d in glob.glob(f"{tmp}/capped/shard=*"):
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) > 1, d  # every shard holds >10 rows here
        # per-shard totals match the direct aggregation (the
        # shard_balance_stats contract is layout-independent)
        got = {
            r["shard"]: (r["docs"], r["chars"])
            for r in back.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_chars").cast("bigint").alias("chars"),
            )
            .collect()
        }
        want = {
            r["shard"]: (r["docs"], r["chars"])
            for r in docs.withColumn(
                "shard", hash_bucket("doc_id", 4).cast("int")
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_chars").cast("bigint").alias("chars"),
            )
            .collect()
        }
        assert got == want


def test_keyed_tables_mark_question_used(spark):
    """Positional array update ($inc use_count + $set last_used_at on the
    matched element only — crud_suggested_questions.py:148-186)."""
    import datetime as dt

    from sortify_spark.operators.keyed_tables import (
        SUGGESTED_QUESTIONS_SCHEMA,
        mark_question_used,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (
            "u1",
            [("q1", "what is A?", 2, t0), ("q2", "what is B?", 0, None)],
            t0,
            10,
            1,
        ),
        ("u2", [("q1", "other user same id", 5, t0)], t0, 3, 1),
    ]
    df = spark.createDataFrame(rows, SUGGESTED_QUESTIONS_SCHEMA)
    now = dt.datetime(2026, 2, 2, 12, 0, 0)
    out = {
        r["user_id"]: {q["id"]: (q["use_count"], q["last_used_at"]) for q in r["questions"]}
        for r in mark_question_used(df, "u1", "q2", now).collect()
    }
    assert out["u1"]["q2"] == (1, now)  # matched element bumped + stamped
    assert out["u1"]["q1"] == (2, t0)  # sibling untouched
    assert out["u2"]["q1"] == (5, t0)  # other user untouched


def test_keyed_tables_should_regenerate(spark):
    """Regeneration triggers: missing record / ≥1.2x doc growth / zero
    stored count / >30d staleness (crud_suggested_questions.py:216-262)."""
    import datetime as dt

    from sortify_spark.operators.keyed_tables import should_regenerate

    now = dt.datetime(2026, 6, 1)
    fresh = now - dt.timedelta(days=5)
    old = now - dt.timedelta(days=40)
    q = spark.createDataFrame(
        [
            ("grown", 10, fresh),
            ("steady", 10, fresh),
            ("zero", 0, fresh),
            ("stale", 10, old),
        ],
        "user_id string, total_documents long, last_generated timestamp",
    )
    counts = spark.createDataFrame(
        [("grown", 12), ("steady", 11), ("zero", 1), ("stale", 10),
         ("newuser", 4)],
        "user_id string, doc_count long",
    )
    got = {
        r["user_id"]: r["regenerate"]
        for r in should_regenerate(q, counts, now).collect()
    }
    assert got == {
        "grown": True,  # 12/10 ≥ 1.2
        "steady": False,  # 11/10 < 1.2, fresh
        "zero": True,  # zero stored count
        "stale": True,  # > 30 days
        "newuser": True,  # no record
    }


def test_keyed_tables_config_singleton(spark):
    """system_config singleton merge: updates win per key, other keys
    carry through, insert-if-absent (crud_settings.py singleton)."""
    from sortify_spark.operators.keyed_tables import (
        SYSTEM_CONFIG_SCHEMA,
        config_get,
        config_set,
    )

    empty = spark.createDataFrame([], SYSTEM_CONFIG_SCHEMA)
    v1 = config_set(empty, {"model": "m1", "auto_sync": "true"})
    assert config_get(v1, "model") == "m1"
    v2 = config_set(v1, {"model": "m2"})
    assert config_get(v2, "model") == "m2"  # update wins
    assert config_get(v2, "auto_sync") == "true"  # carried through
    assert v2.count() == 1  # still a singleton
    assert config_get(v2, "missing") is None


def test_inc_upsert_fold_equals_total(spark):
    """$inc-upsert algebra under arbitrary batch splits: folding any
    partition of the event stream through inc_upsert equals one direct
    aggregation (associativity the driver query checks for ONE split;
    here several seeded splits and a 3-way fold)."""
    import random

    from sortify_spark.operators.keyed_tables import inc_upsert

    rows = [(f"u{i % 7}", f"q{i % 5}", 1, 100 + i) for i in range(200)]

    def agg(batch):
        df = spark.createDataFrame(
            batch, "user_id string, question string, n long, ts long"
        )
        return df.groupBy("user_id", "question").agg(
            F.sum("n").alias("use_count"), F.max("ts").alias("last_used_us")
        )

    want = {
        (r["user_id"], r["question"]): (r["use_count"], r["last_used_us"])
        for r in agg(rows).collect()
    }
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        batches = [[], [], []]
        for r in rows:
            batches[rng.randrange(3)].append(r)
        state = agg(batches[0])
        for b in batches[1:]:
            if not b:
                continue
            state = inc_upsert(
                state,
                agg(b),
                keys=["user_id", "question"],
                inc_cols=["use_count"],
                max_cols=["last_used_us"],
            )
        got = {
            (r["user_id"], r["question"]): (r["use_count"], r["last_used_us"])
            for r in state.collect()
        }
        assert got == want, f"seed {seed}"


def test_pdf_literal_octal_spec_and_nested_parens():
    """Review findings: \\8/\\9 are literal digits (octal uses 0-7 only,
    1-3 digits); one level of balanced unescaped parens is legal and
    must not drop the operator."""
    from sortify_spark.sources import extractors

    assert extractors._pdf_literal(rb"pct\9end") == "pct9end"
    assert extractors._pdf_literal(rb"x\608y") == "x08y"  # \60='0', then 8
    assert extractors._pdf_literal(rb"\101\102") == "AB"
    pdf = _pdf_with_stream(rb"BT (a(b)c) Tj ET")
    assert extractors._extract_pdf_stdlib(pdf) == "a(b)c"


def test_keyed_tables_duplicate_key_batches(spark):
    """Review findings: duplicate keys in an update batch must not break
    the one-row-per-key invariant; duplicate ids in a deactivation list
    must not duplicate token rows; a null use_count increments to 1."""
    import datetime as dt

    from sortify_spark.operators.keyed_tables import (
        SUGGESTED_QUESTIONS_SCHEMA,
        deactivate_tokens,
        keyed_set_upsert,
        mark_question_used,
    )

    tokens = spark.createDataFrame(
        [("d1", "t1", True), ("d2", "t2", True)],
        "device_id string, refresh_token string, is_active boolean",
    )
    dup_updates = spark.createDataFrame(
        [("d1", "rot-a", True), ("d1", "rot-b", True)],
        "device_id string, refresh_token string, is_active boolean",
    )
    merged = keyed_set_upsert(tokens, dup_updates, ["device_id"])
    assert merged.filter(F.col("device_id") == "d1").count() == 1
    assert merged.count() == 2

    dup_ids = spark.createDataFrame(
        [("d1",), ("d1",)], "device_id string"
    )
    deact = deactivate_tokens(tokens, dup_ids)
    assert deact.count() == 2  # no row duplication
    assert deact.filter(F.col("device_id") == "d1").first()["is_active"] is False

    q = spark.createDataFrame(
        [("u1", [("q1", "?", None, None)], dt.datetime(2026, 1, 1), 1, 1)],
        SUGGESTED_QUESTIONS_SCHEMA,
    )
    out = mark_question_used(q, "u1", "q1", dt.datetime(2026, 2, 1)).first()
    assert out["questions"][0]["use_count"] == 1  # null counter -> 1


def test_versioned_table_atomic_upsert_time_travel_rollback(spark):
    """Versioned-table protocol: upserts commit atomically across
    partitions via the manifest swap; pinned-version reads (time
    travel) and rollback reconstruct earlier snapshots exactly; an
    uncommitted version dir is invisible; vacuum removes only
    unreferenced versions past the horizon."""
    from sortify_spark.sources.versioned import (
        read_manifest,
        read_versioned,
        rollback,
        upsert_versioned,
        vacuum,
    )

    def rows_of(df):
        return {
            (r["doc_id"], r["source"], r["n"]) for r in df.collect()
        }

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/docs"
        v1 = upsert_versioned(
            spark.createDataFrame(
                [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
                "doc_id long, source string, n long",
            ),
            path,
            keys=["doc_id"],
            partition_col="source",
        )
        assert v1 == 1
        # v2 touches only partition a: replaces doc 1, inserts doc 4
        v2 = upsert_versioned(
            spark.createDataFrame(
                [(1, "a", 11), (4, "a", 40)],
                "doc_id long, source string, n long",
            ),
            path,
            keys=["doc_id"],
            partition_col="source",
        )
        assert v2 == 2
        now = read_versioned(spark, path, "source")
        assert rows_of(now) == {
            (1, "a", 11), (2, "a", 20), (4, "a", 40), (3, "b", 30)
        }
        # untouched partition b still points at v=1 (never rewritten)
        m = read_manifest(path)
        assert m["partitions"]["b"].startswith("v=1/")
        assert m["partitions"]["a"].startswith("v=2/")
        # time travel reads snapshot 1 exactly
        old = read_versioned(spark, path, "source", version=1)
        assert rows_of(old) == {(1, "a", 10), (2, "a", 20), (3, "b", 30)}
        # an orphan version dir without a manifest swap is invisible
        os.makedirs(f"{path}/v=99/source=zzz", exist_ok=True)
        assert "zzz" not in read_manifest(path)["partitions"]
        # rollback = O(1) RESTORE-style commit (a NEW version whose
        # partition map is the old snapshot's — Delta RESTORE semantics,
        # so the version sequence stays strictly increasing)
        assert rollback(path, 1) == 3
        assert rows_of(read_versioned(spark, path, "source")) == rows_of(old)
        # roll forward again; the next upsert targets the next version
        assert rollback(path, 2) == 4
        v5 = upsert_versioned(
            spark.createDataFrame(
                [(3, "b", 31)], "doc_id long, source string, n long"
            ),
            path,
            keys=["doc_id"],
            partition_col="source",
        )
        assert v5 == 5
        removed = vacuum(path, keep_last=4)
        # horizon = 1: only the v=1 data dir (no longer referenced by
        # the current manifest — b was rewritten in v5) and the v1
        # retained manifest fall past it
        assert removed == [1]
        assert rows_of(read_versioned(spark, path, "source")) == {
            (1, "a", 11), (2, "a", 20), (4, "a", 40), (3, "b", 31)
        }
        # the pinned snapshot whose manifest vacuum reclaimed fails
        # loudly, not silently empty
        with pytest.raises(FileNotFoundError):
            read_versioned(spark, path, "source", version=1)
        # a RETAINED manifest that still exists but points at vacuumed
        # data dirs (v3 restored the v1 snapshot) also fails loudly,
        # with the vacuum cause named
        with pytest.raises(FileNotFoundError, match="vacuum"):
            read_versioned(spark, path, "source", version=3)


@pytest.mark.slow
def test_versioned_compact_diff_delete(spark):
    """Round-4 versioned-table extensions: OPTIMIZE-style compaction is
    pure layout (rows identical, time travel intact, CDC-empty), diff
    classifies insert/update pre+post/delete between any two snapshots
    reading only changed partitions, and keyed deletes commit atomically
    (emptied partitions drop out of the manifest)."""
    from sortify_spark.sources.versioned import (
        compact,
        delete_versioned,
        diff,
        read_manifest,
        read_versioned,
        upsert_versioned,
    )

    def rows_of(df):
        return {(r["doc_id"], r["source"], r["n"]) for r in df.collect()}

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/docs"
        base = spark.createDataFrame(
            [(i, "a" if i % 2 else "b", i * 10) for i in range(1, 9)],
            "doc_id long, source string, n long",
        ).repartition(4)  # multi-file partitions on purpose
        assert upsert_versioned(base, path, ["doc_id"], "source") == 1
        # v2: update doc 1, insert doc 9 (both partition a)
        upd = spark.createDataFrame(
            [(1, "a", 11), (9, "a", 90)],
            "doc_id long, source string, n long",
        ).repartition(3)
        assert upsert_versioned(upd, path, ["doc_id"], "source") == 2
        snap2 = rows_of(read_versioned(spark, path, "source"))

        # --- diff v1 → v2: one update (pre+post) + one insert, only
        # partition a is a changed partition
        cdc = diff(spark, path, "source", ["doc_id"], 1, 2)
        got = {
            (r["_change_type"], r["doc_id"], r["n"]) for r in cdc.collect()
        }
        assert got == {
            ("update_preimage", 1, 10),
            ("update_postimage", 1, 11),
            ("insert", 9, 90),
        }
        # reverse diff flips the classification (insert ↔ delete)
        rev = {
            (r["_change_type"], r["doc_id"], r["n"])
            for r in diff(spark, path, "source", ["doc_id"], 2, 1).collect()
        }
        assert rev == {
            ("update_preimage", 1, 11),
            ("update_postimage", 1, 10),
            ("delete", 9, 90),
        }

        # --- compaction: upserts themselves no longer fragment (the
        # write repartitions by partition value — one file per affected
        # partition per version), so force fragmentation the way it
        # still arises in production: maxRecordsPerFile splitting a
        # large partition's single task into several files.
        def files_in(rel):
            d = os.path.join(path, rel)
            return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

        m = read_manifest(path)
        assert all(files_in(rel) == 1 for rel in m["partitions"].values())
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
        try:
            upsert_versioned(
                spark.createDataFrame(
                    [(1, "a", 12)], "doc_id long, source string, n long"
                ),
                path,
                ["doc_id"],
                "source",
            )
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        snap2 = rows_of(read_versioned(spark, path, "source"))
        m = read_manifest(path)
        assert files_in(m["partitions"]["a"]) > 1
        v3 = compact(spark, path, "source")
        assert v3 == 4
        m3 = read_manifest(path)
        assert all(files_in(rel) == 1 for rel in m3["partitions"].values())
        # pure layout: same rows, empty CDC, old snapshot still readable
        assert rows_of(read_versioned(spark, path, "source")) == snap2
        assert diff(spark, path, "source", ["doc_id"], 3, 4).isEmpty()
        assert rows_of(read_versioned(spark, path, "source", version=3)) == snap2
        # idempotent: nothing left to compact
        assert compact(spark, path, "source") is None

        # --- keyed delete: drop doc 1; partition b untouched in manifest
        v5 = delete_versioned(
            spark.createDataFrame([(1, "a")], "doc_id long, source string"),
            path,
            ["doc_id"],
            "source",
        )
        assert v5 == 5
        now = rows_of(read_versioned(spark, path, "source"))
        assert now == {t for t in snap2 if t[0] != 1}
        m5 = read_manifest(path)
        assert m5["partitions"]["b"] == m3["partitions"]["b"]
        # CDC sees exactly the delete
        dd = {
            (r["_change_type"], r["doc_id"], r["n"])
            for r in diff(spark, path, "source", ["doc_id"], 4, 5).collect()
        }
        assert dd == {("delete", 1, 12)}
        # delete the whole b partition → drops out of the manifest
        v6 = delete_versioned(
            spark.createDataFrame(
                [(i, "b") for i in (2, 4, 6, 8)],
                "doc_id long, source string",
            ),
            path,
            ["doc_id"],
            "source",
        )
        assert "b" not in read_manifest(path)["partitions"]
        assert {t[1] for t in rows_of(read_versioned(spark, path, "source"))} == {"a"}
        assert v6 == 6


def test_versioned_refuses_concurrent_writers(spark):
    """Single-writer contract enforced loudly: two committers that both
    read version N race on the O_EXCL create of _MANIFEST.v(N+1) — the
    second raises ConcurrentWriteError and the winner's commit is
    intact (no lost update)."""
    from sortify_spark.sources.versioned import (
        ConcurrentWriteError,
        read_versioned,
        upsert_versioned,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/docs"
        df1 = spark.createDataFrame(
            [(1, "a", 10)], "doc_id long, source string, n long"
        )
        assert upsert_versioned(df1, path, ["doc_id"], "source") == 1
        # simulate writer B having already committed version 2 between
        # writer A's manifest read and its commit: the retained
        # manifest _MANIFEST.v2 exists when A tries to create it
        import json

        with open(f"{path}/_MANIFEST.v2", "w") as fh:
            json.dump({"version": 2, "partitions": {}}, fh)
        with pytest.raises(ConcurrentWriteError, match="version 2"):
            upsert_versioned(
                spark.createDataFrame(
                    [(2, "a", 20)], "doc_id long, source string, n long"
                ),
                path,
                ["doc_id"],
                "source",
            )
        # the loser changed nothing visible: current snapshot is still
        # writer... version 1's
        got = {
            (r["doc_id"], r["n"])
            for r in read_versioned(spark, path, "source").collect()
        }
        assert got == {(1, 10)}
        # CRITICAL (ADVICE r5 medium): the loser failed at RESERVATION
        # time, before writing a single data file — a v=2 dir written
        # by the loser would have clobbered the winner's committed data
        # (the manifest check alone fires too late to prevent that).
        import os

        assert not os.path.exists(f"{path}/v=2")


def test_versioned_reservation_released_on_failed_write(spark):
    """A writer whose DATA write fails (failed Spark job, bad input)
    releases its version reservation on unwind — the table stays
    writable without manual cleanup; a hard crash (no unwind) leaves
    the placeholder and the next writer gets ConcurrentWriteError with
    documented recovery."""
    from sortify_spark.sources.versioned import (
        ConcurrentWriteError,
        read_versioned,
        upsert_versioned,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/docs"
        df1 = spark.createDataFrame(
            [(1, "a", 10)], "doc_id long, source string, n long"
        )
        assert upsert_versioned(df1, path, ["doc_id"], "source") == 1
        # a poisoned update: evaluating it raises mid-job
        bad = spark.createDataFrame(
            [(2, "a", 0)], "doc_id long, source string, n long"
        ).withColumn(
            "n", F.assert_true(F.col("n") > 0).cast("long") + F.col("n")
        )
        with pytest.raises(Exception) as exc:
            upsert_versioned(bad, path, ["doc_id"], "source")
        assert not isinstance(exc.value, ConcurrentWriteError)
        import os

        assert not os.path.exists(f"{path}/_MANIFEST.v2")  # released
        # the very next writer succeeds at version 2
        df2 = spark.createDataFrame(
            [(2, "a", 20)], "doc_id long, source string, n long"
        )
        assert upsert_versioned(df2, path, ["doc_id"], "source") == 2
        got = {
            (r["doc_id"], r["n"])
            for r in read_versioned(spark, path, "source").collect()
        }
        assert got == {(1, 10), (2, 20)}


def test_versioned_pending_reservation_not_a_snapshot(spark):
    """A crashed writer's pending placeholder must never be readable as
    a snapshot: pinned reads raise, and as-of resolution skips it.
    Manifests that predate committed_at backfill from file mtime, so a
    timestamp earlier than EVERY real commit raises instead of silently
    resolving to the oldest snapshot (ADVICE r5 low)."""
    import json
    import os

    from sortify_spark.sources.versioned import (
        read_manifest,
        resolve_version_at,
        read_versioned,
        upsert_versioned,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/docs"
        df1 = spark.createDataFrame(
            [(1, "a", 10)], "doc_id long, source string, n long"
        )
        upsert_versioned(df1, path, ["doc_id"], "source")
        # simulate a crashed writer: pending placeholder for v2
        with open(f"{path}/_MANIFEST.v2", "w") as fh:
            json.dump({"version": 2, "pending": True}, fh)
        with pytest.raises(FileNotFoundError, match="never committed"):
            read_manifest(path, 2)
        with pytest.raises(FileNotFoundError):
            read_versioned(spark, path, "source", version=2)
        # as-of far in the future resolves to v1, skipping the pending v2
        assert resolve_version_at(path, time.time() + 1e6) == 1
        # legacy manifest without committed_at: strip the field from v1
        m1 = read_manifest(path, 1)
        committed = m1.pop("committed_at")
        with open(f"{path}/_MANIFEST.v1", "w") as fh:
            json.dump(m1, fh)
        # backfilled from mtime (~now): a timestamp BEFORE every commit
        # raises; one at/after now resolves to v1
        with pytest.raises(FileNotFoundError, match="no retained"):
            resolve_version_at(path, committed - 3600)
        assert resolve_version_at(path, time.time() + 60) == 1
        # sanity: pending placeholder never blocks current reads
        assert {
            r["doc_id"]
            for r in read_versioned(spark, path, "source").collect()
        } == {1}
        os.remove(f"{path}/_MANIFEST.v2")


def test_versioned_partition_dtype_round_trip(spark):
    """An integer partition column comes back as an INTEGER: the
    manifest records partition_dtype at write time and every read path
    (snapshot, merge-read inside upsert, diff) casts the restored
    directory-name value back — no implicit string<->int coercion in
    downstream joins (ADVICE r4)."""
    from sortify_spark.sources.versioned import (
        diff,
        read_versioned,
        upsert_versioned,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/bands"
        df = spark.createDataFrame(
            [(1, 0, 100), (2, 0, 200), (3, 7, 300)],
            "id long, band_idx int, band_key long",
        )
        upsert_versioned(df, path, keys=["id", "band_idx"], partition_col="band_idx")
        out = read_versioned(spark, path, "band_idx")
        assert dict(out.dtypes)["band_idx"] == "int"
        assert {(r["id"], r["band_idx"]) for r in out.collect()} == {
            (1, 0), (2, 0), (3, 7)
        }
        # second upsert merges against the existing partition read —
        # the anti-join key is int on both sides
        upd = spark.createDataFrame(
            [(2, 0, 201)], "id long, band_idx int, band_key long"
        )
        upsert_versioned(upd, path, keys=["id", "band_idx"], partition_col="band_idx")
        out2 = read_versioned(spark, path, "band_idx")
        assert dict(out2.dtypes)["band_idx"] == "int"
        assert {(r["id"], r["band_key"]) for r in out2.collect()} == {
            (1, 100), (2, 201), (3, 300)
        }
        cdc = diff(spark, path, "band_idx", ["id"], 1, 2)
        assert dict(cdc.dtypes)["band_idx"] == "int"
        got = {(r["_change_type"], r["id"]) for r in cdc.collect()}
        assert got == {
            ("update_preimage", 2), ("update_postimage", 2)
        }


def test_versioned_schema_evolution_and_as_of(spark):
    """Schema evolution on the versioned store: a later upsert may ADD
    columns (older partitions surface typed nulls via merged-schema
    reads; pinned old snapshots keep the old schema) or OMIT columns
    (its rows get nulls).  diff across the ADD COLUMN boundary
    classifies over the union schema.  AS-OF-timestamp reads resolve
    the highest snapshot committed at or before the timestamp."""
    import time as _time

    from sortify_spark.sources.versioned import (
        diff,
        read_versioned,
        upsert_versioned,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/docs"
        upsert_versioned(
            spark.createDataFrame(
                [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
                "doc_id long, source string, n long",
            ),
            path,
            keys=["doc_id"],
            partition_col="source",
        )
        t1 = _time.time()
        _time.sleep(0.05)
        # v2 ADDS a column; touches only partition a
        upsert_versioned(
            spark.createDataFrame(
                [(1, "a", 11, 0.9), (4, "a", 40, 0.4)],
                "doc_id long, source string, n long, score double",
            ),
            path,
            keys=["doc_id"],
            partition_col="source",
        )
        now = read_versioned(spark, path, "source")
        assert dict(now.dtypes)["score"] == "double"
        got = {
            (r["doc_id"], r["n"], r["score"]) for r in now.collect()
        }
        # untouched rows (2 in a's rewrite, 3 in b's old file) -> null
        assert got == {
            (1, 11, 0.9), (2, 20, None), (4, 40, 0.4), (3, 30, None)
        }
        # pinned snapshot 1 still has the ORIGINAL schema
        old = read_versioned(spark, path, "source", version=1)
        assert "score" not in old.columns
        # as-of timestamp between the commits resolves to v1
        asof = read_versioned(spark, path, "source", as_of=t1)
        assert "score" not in asof.columns and asof.count() == 3
        # diff across the boundary: union schema, null pre-image for
        # the new column
        cdc = {
            (r["_change_type"], r["doc_id"], r["score"])
            for r in diff(spark, path, "source", ["doc_id"], 1, 2).collect()
        }
        assert cdc == {
            ("update_preimage", 1, None),
            ("update_postimage", 1, 0.9),
            ("insert", 4, 0.4),
        }
        # v3 OMITS the new column entirely: its rows get nulls, prior
        # rows keep their values
        upsert_versioned(
            spark.createDataFrame(
                [(5, "a", 50)], "doc_id long, source string, n long"
            ),
            path,
            keys=["doc_id"],
            partition_col="source",
        )
        got3 = {
            (r["doc_id"], r["score"])
            for r in read_versioned(spark, path, "source").collect()
        }
        assert got3 == {
            (1, 0.9), (2, None), (4, 0.4), (5, None), (3, None)
        }


@pytest.mark.slow
def test_versioned_model_based_random_ops(spark):
    """Model-based check of the versioned-store protocol: a seeded
    random sequence of upserts / keyed deletes / compactions / restores
    must keep the table equal to a plain dict model after EVERY commit,
    and every retained snapshot must still read back as the model state
    recorded at its commit time (time travel never drifts).  Row
    identity is (partition, key) — a key that changes partitions
    legitimately coexists with its old row until that row's partition
    is rewritten with it absent, exactly like any partitioned MERGE."""
    import random

    from sortify_spark.sources.versioned import (
        compact,
        delete_versioned,
        read_manifest,
        read_versioned,
        rollback,
        upsert_versioned,
    )

    rng = random.Random(42)
    model: dict[tuple[int, str], int] = {}  # (doc_id, source) -> n
    history: dict[int, dict] = {}  # version -> model snapshot

    def as_df(rows):
        return spark.createDataFrame(
            rows, "doc_id long, source string, n long"
        )

    def table_state(df):
        rows = df.collect()
        state = {(r["doc_id"], r["source"]): r["n"] for r in rows}
        assert len(state) == len(rows), "duplicate (key, partition) row"
        return state

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/t"
        sources = ["a", "b", "c"]
        for step in range(14):
            op = rng.choice(
                ["upsert", "upsert", "upsert", "delete", "compact",
                 "restore"]
            )
            if op in ("upsert",) or not model:
                batch: dict = {}
                for _ in range(rng.randrange(1, 8)):
                    batch[rng.randrange(30)] = (
                        rng.choice(sources),
                        rng.randrange(1000),
                    )
                v = upsert_versioned(
                    as_df([(k, s, n) for k, (s, n) in batch.items()]),
                    path,
                    ["doc_id"],
                    "source",
                )
                for k, (s, n) in batch.items():
                    model[(k, s)] = n
            elif op == "delete":
                ks = rng.sample(sorted(model), min(3, len(model)))
                v = delete_versioned(
                    as_df([(k, s, 0) for k, s in ks]).select(
                        "doc_id", "source"
                    ),
                    path,
                    ["doc_id"],
                    "source",
                )
                for pair in ks:
                    del model[pair]
            elif op == "compact":
                got = compact(spark, path, "source")
                if got is None:
                    continue
                v = got
            else:  # restore to a random retained version
                v_target = rng.choice(sorted(history))
                v = rollback(path, v_target)
                model = dict(history[v_target])
            history[v] = dict(model)
            if model:
                assert (
                    table_state(read_versioned(spark, path, "source"))
                    == model
                ), f"step {step} ({op}) diverged"
            else:
                # a delete may empty the table entirely: the read must
                # fail loudly, not return silently empty
                with pytest.raises(FileNotFoundError):
                    read_versioned(spark, path, "source")
        # every retained snapshot still reads as its recorded state
        current = read_manifest(path)["version"]
        for v, snap in history.items():
            if not snap:
                continue
            got = table_state(
                read_versioned(spark, path, "source", version=v)
            )
            assert got == snap, f"snapshot v{v} drifted"
        assert current == max(history)


def test_versioned_interrupt_after_commit_keeps_manifest(spark):
    """An interrupt landing AFTER _commit_manifest filled the retained
    manifest but before the `with _reserved(...)` block exits must NOT
    delete _MANIFEST.vN — it belongs to an already-committed version,
    and pinned reads / resolve_version_at depend on it (ADVICE r6).
    Only a still-pending placeholder is released on unwind."""
    import os

    from sortify_spark.sources.versioned import (
        _commit_manifest,
        _reserved,
        read_manifest,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/docs"
        # committed-then-interrupted: manifest survives
        with pytest.raises(KeyboardInterrupt):
            with _reserved(path, 1):
                _commit_manifest(
                    path, {"version": 1, "partitions": {}}
                )
                raise KeyboardInterrupt
        assert os.path.exists(f"{path}/_MANIFEST.v1")
        assert read_manifest(path, version=1)["version"] == 1
        assert read_manifest(path)["version"] == 1
        # still-pending-then-interrupted: placeholder released
        with pytest.raises(KeyboardInterrupt):
            with _reserved(path, 2):
                raise KeyboardInterrupt
        assert not os.path.exists(f"{path}/_MANIFEST.v2")


def test_compact_preserves_extras_and_amend_manifest(spark):
    """compact() is a layout-only COMMIT: every manifest key beyond
    version/partitions (anchor extras like paired versions, carry
    schemas, corpus stats) must carry forward verbatim.
    amend_manifest() is the paired metadata-only commit an anchor uses
    to re-pin after a layout operation."""
    from sortify_spark.sources.versioned import (
        amend_manifest,
        compact,
        read_manifest,
        read_versioned,
        upsert_versioned,
    )

    def rows_of(df):
        return {(r["doc_id"], r["source"], r["n"]) for r in df.collect()}

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/anchorish"
        base = spark.createDataFrame(
            [(i, "a" if i % 2 else "b", i * 10) for i in range(1, 9)],
            "doc_id long, source string, n long",
        )
        extras = {
            "n_docs": 8,
            "carry": ["owner_id"],
            "postings_version": 3,
        }
        upsert_versioned(base, path, ["doc_id"], "source", extra=extras)
        snap = rows_of(read_versioned(spark, path, "source"))

        # fragment, then compact — extras must survive the commit
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
        try:
            upsert_versioned(
                spark.createDataFrame(
                    [(1, "a", 11)], "doc_id long, source string, n long"
                ),
                path,
                ["doc_id"],
                "source",
                extra=extras,
            )
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        snap = rows_of(read_versioned(spark, path, "source"))
        v = compact(spark, path, "source")
        assert v is not None, "fragmented partition must compact"
        m = read_manifest(path)
        for k, want in extras.items():
            assert m.get(k) == want, k
        assert m.get("partition_dtype") == "string"
        assert rows_of(read_versioned(spark, path, "source")) == snap

        # amend_manifest: zero data written, same partition map, new
        # version, updated extras
        v3 = amend_manifest(path, {"postings_version": 9, "note": "x"})
        assert v3 == v + 1
        m3 = read_manifest(path)
        assert m3["version"] == v3
        assert m3["partitions"] == m["partitions"]
        assert m3["postings_version"] == 9
        assert m3["note"] == "x"
        assert m3["carry"] == ["owner_id"]
        assert not os.path.isdir(os.path.join(path, f"v={v3}"))
        # the rows are untouched by compact AND by amend
        assert rows_of(read_versioned(spark, path, "source")) == snap


def test_layout_commits_stamp_fresh_committed_at(spark):
    """Layout-only commits (compact / amend) must NOT inherit the prior
    version's committed_at: each commit stamps its own timestamp so
    resolve_version_at stays monotonic and an as-of read taken BEFORE
    the operation resolves to the pre-operation snapshot (ADVICE r10
    medium)."""
    from sortify_spark.sources.versioned import (
        amend_manifest,
        compact,
        read_manifest,
        read_versioned,
        resolve_version_at,
        snapshot_files,
        upsert_versioned,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/side"
        # one file per row, so the compaction below has partitions to
        # rewrite
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
        try:
            for b in range(3):
                upsert_versioned(
                    spark.createDataFrame(
                        [(b * 10 + i, b) for i in range(3)],
                        "id long, pb int",
                    ),
                    path, keys=["id"], partition_col="pb",
                )
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        v_pre = read_manifest(path)["version"]
        n_files_pre = len(snapshot_files(path))
        t_pre_op = time.time()
        time.sleep(0.02)
        v_compact = compact(spark, path, "pb")
        assert v_compact == v_pre + 1
        m_pre, m_compact = read_manifest(path, v_pre), read_manifest(path)
        # fresh stamp, strictly after the pre-compaction commit
        assert m_compact["committed_at"] > m_pre["committed_at"]
        assert m_compact["committed_at"] > t_pre_op
        # an as-of read taken before the compaction resolves to the
        # ORIGINAL snapshot, fragmented files and all
        assert resolve_version_at(path, t_pre_op) == v_pre
        assert len(snapshot_files(path, v_pre)) == n_files_pre
        assert len(snapshot_files(path)) < n_files_pre
        old = read_versioned(spark, path, "pb", version=v_pre)
        assert old.filter(F.col("pb") == 0).count() == 3
        # amend_manifest: same contract
        t_pre_amend = time.time()
        time.sleep(0.02)
        v_amend = amend_manifest(path, {"note": "x"})
        m_amend = read_manifest(path)
        assert m_amend["committed_at"] > m_compact["committed_at"]
        assert resolve_version_at(path, t_pre_amend) == v_compact
        assert resolve_version_at(path, time.time() + 1) == v_amend


def test_versioned_layout_files_sorted_non_overlapping(spark):
    """The layout contract that actually makes tenant probes prune
    files (r11 review + measurement): every file in a layouted
    partition must cover a tight CONTIGUOUS range of the layout
    column, with at most a one-value overlap at a roll boundary.  An
    earlier ntile+hash-repartition revision silently violated this —
    distinct (partition, tile) groups hash-collided into one write
    task whose per-directory file then spanned the gap between
    non-adjacent tiles (measured: zero pruning).  Also asserts the
    count-based roll: <= layout_files files per partition, the
    largest partition at exactly layout_files, and a same-rows
    rewrite reproducing identical per-partition file counts."""
    import glob

    import pyarrow.parquet as pq

    from sortify_spark.sources.versioned import (
        overwrite_versioned,
        read_manifest,
        upsert_versioned,
    )

    # 3 partitions, skewed sizes, owner values interleaved so an
    # unsorted write would produce wide overlapping spans
    rows = []
    for pb, n in ((0, 97), (1, 41), (2, 160)):
        for i in range(n):
            rows.append((pb * 1000 + i, pb, (i * 37) % 50))
    df = spark.createDataFrame(rows, "id long, pb int, owner int")

    def spans_per_partition(path):
        man = read_manifest(path)
        out = {}
        for value, rel in man["partitions"].items():
            spans = []
            for f in sorted(
                glob.glob(os.path.join(path, rel, "*.parquet"))
            ):
                md = pq.read_metadata(f)
                mn = mx = None
                for rg in range(md.num_row_groups):
                    for c in range(md.num_columns):
                        col = md.row_group(rg).column(c)
                        if col.path_in_schema == "owner":
                            s = col.statistics
                            mn = s.min if mn is None else min(mn, s.min)
                            mx = s.max if mx is None else max(mx, s.max)
                spans.append((mn, mx))
            out[value] = sorted(spans)
        return out

    with tempfile.TemporaryDirectory() as root:
        path = os.path.join(root, "t")
        overwrite_versioned(
            df, path, partition_col="pb",
            layout_col="owner", layout_files=4,
        )
        spans = spans_per_partition(path)
        counts = {v: len(s) for v, s in spans.items()}
        # roll = ceil(160/4) = 40 -> 97 rows: 3 files, 41: 2, 160: 4
        assert counts == {"0": 3, "1": 2, "2": 4}, counts
        for value, ss in spans.items():
            for (lo1, hi1), (lo2, hi2) in zip(ss, ss[1:]):
                # contiguous ascending; a shared boundary VALUE is the
                # only permitted overlap (a value spanning a roll)
                assert hi1 <= lo2, (value, ss)
        # same rows re-written (keyed upsert of every row, unchanged)
        # reproduce the same counts — compact's exact threshold
        upsert_versioned(df, path, keys=["id"], partition_col="pb")
        spans2 = spans_per_partition(path)
        assert {v: len(s) for v, s in spans2.items()} == counts
        for value, ss in spans2.items():
            for (lo1, hi1), (lo2, hi2) in zip(ss, ss[1:]):
                assert hi1 <= lo2, (value, ss)


def test_compact_converges_under_session_maxrecords_cap(spark):
    """compact on a layouted table must converge even when the session
    spark.sql.files.maxRecordsPerFile caps the roll below the layout
    target (r11 review finding): the flagging threshold mirrors the
    rewrite's own roll (per-partition ceil(rows/roll) from footer
    counts), so the healed shape — MORE than layout_files files, each
    at the operator's cap — is recognized as intended, not re-flagged
    forever."""
    from sortify_spark.sources.versioned import (
        compact,
        overwrite_versioned,
        read_manifest,
    )

    rows = [(i, i % 2, (i * 13) % 40) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, pb int, owner int")
    with tempfile.TemporaryDirectory() as root:
        path = os.path.join(root, "t")
        # fragment the initial write hard: 100 rows/partition at
        # 5 rows/file = 20 files, far above any intended shape
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "5")
        try:
            overwrite_versioned(
                df, path, partition_col="pb",
                layout_col="owner", layout_files=4,
            )
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")

        def files_per_partition():
            man = read_manifest(path)
            return {
                v: sum(
                    1
                    for f in os.listdir(os.path.join(path, rel))
                    if f.endswith(".parquet")
                )
                for v, rel in man["partitions"].items()
            }

        assert all(n > 4 for n in files_per_partition().values())
        # operator caps files at 10 rows during maintenance: intended
        # = ceil(100/10) = 10 files per partition (> layout_files=4)
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
        try:
            first = compact(spark, path, "pb")
            assert first is not None
            assert files_per_partition() == {"0": 10, "1": 10}
            # the healed shape is INTENDED under the same cap: a
            # second pass must be a no-op, not a perpetual rewrite
            assert compact(spark, path, "pb") is None
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        # cap lifted: 10 files > layout target 4 -> one more heal to
        # the layout shape, then stable again
        assert compact(spark, path, "pb") is not None
        counts = files_per_partition()
        assert all(n <= 4 for n in counts.values()), counts
        assert compact(spark, path, "pb") is None


def _layout_files_per_partition(path):
    from sortify_spark.sources.versioned import read_manifest

    man = read_manifest(path)
    return {
        v: sum(
            1
            for f in os.listdir(os.path.join(path, rel))
            if f.endswith(".parquet")
        )
        for v, rel in man["partitions"].items()
    }


@pytest.mark.slow
def test_layout_growth_repin_heals_file_explosion(spark):
    """A roll pinned on a tiny build makes a grown partition's rewrite
    fragment into ceil(rows/roll) files (r12 advice): compact must
    detect intended-files >> layout_files, WARN, re-pin the roll from
    today's data, heal the shape in one pass, persist the new pin, and
    converge (second compact returns None; rows untouched)."""
    import json as _json
    import warnings as _warnings

    from sortify_spark.sources.versioned import (
        compact,
        overwrite_versioned,
        read_manifest,
        read_versioned,
        upsert_versioned,
    )

    tiny = spark.createDataFrame(
        [(i, i % 2, i % 3) for i in range(8)],
        "id long, pb int, owner int",
    )
    with tempfile.TemporaryDirectory() as root:
        path = os.path.join(root, "t")
        overwrite_versioned(
            tiny, path, partition_col="pb",
            layout_col="owner", layout_files=4,
        )
        pinned = read_manifest(path)["layout_roll"]
        assert pinned == 1  # ceil(4/4): the degenerate tiny-build pin
        # the corpus grows 100x: the pinned roll now writes ~one file
        # per row in the touched partitions
        grown = spark.createDataFrame(
            [(1000 + i, i % 2, (i * 7) % 50) for i in range(800)],
            "id long, pb int, owner int",
        )
        upsert_versioned(grown, path, keys=["id"], partition_col="pb")
        exploded = _layout_files_per_partition(path)
        assert max(exploded.values()) > 8 * 4, exploded
        before = {
            (r["id"], r["pb"], r["owner"])
            for r in read_versioned(spark, path, "pb").collect()
        }
        with _warnings.catch_warnings(record=True) as seen:
            _warnings.simplefilter("always")
            assert compact(spark, path, partition_col="pb") is not None
        assert any("re-pinned" in str(w.message) for w in seen)
        healed = _layout_files_per_partition(path)
        assert max(healed.values()) <= 4, healed
        man = read_manifest(path)
        assert man["layout_roll"] > pinned
        # ... and the healed pin is what later rewrites use: converged
        assert compact(spark, path, partition_col="pb") is None
        after = {
            (r["id"], r["pb"], r["owner"])
            for r in read_versioned(spark, path, "pb").collect()
        }
        assert after == before
        # sanity: manifest file agrees with the API view
        with open(os.path.join(path, "_MANIFEST")) as fh:
            assert _json.load(fh)["layout_roll"] == man["layout_roll"]


def test_layout_legacy_manifest_roll_persists_on_first_rewrite(spark):
    """Legacy layout manifests (written before layout_roll existed)
    must converge: the FIRST rewrite (upsert here) computes a roll and
    persists it, so a subsequent compact flags with the SAME pin and
    returns None instead of oscillating (r12 advice)."""
    import json as _json

    from sortify_spark.sources.versioned import (
        compact,
        overwrite_versioned,
        read_manifest,
        upsert_versioned,
    )

    df = spark.createDataFrame(
        [(i, i % 2, (i * 13) % 40) for i in range(200)],
        "id long, pb int, owner int",
    )
    with tempfile.TemporaryDirectory() as root:
        path = os.path.join(root, "t")
        overwrite_versioned(
            df, path, partition_col="pb",
            layout_col="owner", layout_files=4,
        )
        # simulate the legacy manifest: strip the recorded roll
        mpath = os.path.join(path, "_MANIFEST")
        with open(mpath) as fh:
            man = _json.load(fh)
        del man["layout_roll"]
        with open(mpath, "w") as fh:
            _json.dump(man, fh)
        assert "layout_roll" not in read_manifest(path)
        # first rewrite after the strip: an upsert touching ONE
        # partition — its computed roll must land in the manifest
        up = spark.createDataFrame(
            [(9001, 0, 7), (9002, 0, 33)], "id long, pb int, owner int"
        )
        upsert_versioned(up, path, keys=["id"], partition_col="pb")
        man2 = read_manifest(path)
        assert "layout_roll" in man2
        # ... and maintenance agrees with that pin: no rewrite loop
        assert compact(spark, path, partition_col="pb") is None
        assert read_manifest(path)["layout_roll"] == man2["layout_roll"]


def test_compact_rowcounts_fall_back_without_pyarrow(spark):
    """compact's footer row counts require pyarrow; a pyspark-only
    deployment must fall back to one column-pruned Spark count rather
    than fail at maintenance time (r12 advice).  Simulated by poisoning
    sys.modules so `import pyarrow.parquet` raises ImportError inside
    the helper; counts and compact's decision must be identical."""
    import sys

    from sortify_spark.sources.versioned import (
        _partition_row_counts,
        compact,
        overwrite_versioned,
        read_manifest,
    )

    df = spark.createDataFrame(
        [(i, i % 3, (i * 11) % 30) for i in range(120)],
        "id long, pb int, owner int",
    )
    with tempfile.TemporaryDirectory() as root:
        path = os.path.join(root, "t")
        overwrite_versioned(
            df, path, partition_col="pb",
            layout_col="owner", layout_files=4,
        )
        man = read_manifest(path)
        with_pa = _partition_row_counts(spark, path, "pb", man)
        saved = {
            k: sys.modules.pop(k)
            for k in list(sys.modules)
            if k == "pyarrow.parquet"
        }
        sys.modules["pyarrow.parquet"] = None  # import -> ImportError
        try:
            without_pa = _partition_row_counts(spark, path, "pb", man)
            # the maintenance op itself must run pyarrow-less too
            decision = compact(spark, path, partition_col="pb")
        finally:
            del sys.modules["pyarrow.parquet"]
            sys.modules.update(saved)
        assert without_pa == with_pa
        assert sum(with_pa.values()) == 120
        assert decision is None  # fresh layout build: nothing to heal


def test_layout_min_file_rows_crossover_guard(spark):
    """layout_min_file_rows floors the intended roll (VERDICT r11 #3):
    partitions too small to fill layout_files USEFUL files write fewer
    (here: one file per partition), the floor is what gets pinned, the
    sort inside the single file still holds (tight ascending layout
    ranges for row-group pruning), rows are identical to the
    unfloored build, and compact sees the shape as intended."""
    import pyarrow.parquet as pq

    from sortify_spark.sources.versioned import (
        compact,
        overwrite_versioned,
        read_manifest,
        read_versioned,
    )

    rows = [(i, i % 2, (i * 37) % 50) for i in range(160)]
    df = spark.createDataFrame(rows, "id long, pb int, owner int")
    with tempfile.TemporaryDirectory() as root:
        path = os.path.join(root, "t")
        overwrite_versioned(
            df, path, partition_col="pb",
            layout_col="owner", layout_files=4,
            layout_min_file_rows=10_000,
        )
        man = read_manifest(path)
        assert man["layout_roll"] == 10_000
        files = _layout_files_per_partition(path)
        assert set(files.values()) == {1}, files
        # the sort survives: within the single file the layout column
        # is non-decreasing (what makes row-group/page pruning work)
        for rel in man["partitions"].values():
            pdir = os.path.join(path, rel)
            for f in os.listdir(pdir):
                if f.endswith(".parquet"):
                    owners = pq.read_table(
                        os.path.join(pdir, f), columns=["owner"]
                    )["owner"].to_pylist()
                    assert owners == sorted(owners)
        got = {
            (r["id"], r["pb"], r["owner"])
            for r in read_versioned(spark, path, "pb").collect()
        }
        assert got == set(rows)
        assert compact(spark, path, partition_col="pb") is None


def test_compact_persists_pin_without_rewrite(spark):
    """compact must persist a re-derived roll even when NO partition
    needs rewriting (r12 review): a legacy manifest (or a stale pin
    whose growth flag fires on already-consolidated files) otherwise
    re-derives — and re-warns — every pass while upserts keep writing
    at the degenerate roll.  The pin lands as a metadata-only commit;
    a second compact is a true no-op (no further version bump)."""
    import json as _json

    from sortify_spark.sources.versioned import (
        compact,
        overwrite_versioned,
        read_manifest,
    )

    df = spark.createDataFrame(
        [(i, i % 2, (i * 13) % 40) for i in range(200)],
        "id long, pb int, owner int",
    )
    with tempfile.TemporaryDirectory() as root:
        path = os.path.join(root, "t")
        overwrite_versioned(
            df, path, partition_col="pb",
            layout_col="owner", layout_files=4,
        )
        mpath = os.path.join(path, "_MANIFEST")
        with open(mpath) as fh:
            man = _json.load(fh)
        del man["layout_roll"]
        with open(mpath, "w") as fh:
            _json.dump(man, fh)
        v0 = read_manifest(path)["version"]
        # fresh build shape: nothing fragmented, so no rewrite — but
        # the computed roll must still persist (metadata-only commit),
        # and that commit's VERSION is returned (ADVICE r12: None
        # would hide a version bump from retention accounting and
        # version-keyed caches)
        assert compact(spark, path, partition_col="pb") == v0 + 1
        man1 = read_manifest(path)
        assert man1["layout_roll"] == 25  # ceil(100/4)
        assert man1["version"] == v0 + 1
        assert man1["partitions"] == man["partitions"]  # map untouched
        # converged: the next pass neither rewrites nor amends
        assert compact(spark, path, partition_col="pb") is None
        assert read_manifest(path)["version"] == man1["version"]


def test_compact_degenerate_pin_guard_and_floor(spark):
    """ADVICE r12: compact must not pin a degenerate layout roll.
    (a) EMPTY snapshot: a legacy layout table whose rows were all
    deleted gives the derivation nothing to size from — compact pins
    nothing (the old behavior pinned roll=1, so every later upsert of
    grown data wrote up to one file per row until the growth re-pin).
    (b) TINY snapshot with a recorded crossover floor
    (``layout_floor``, from a build's layout_min_file_rows): legacy
    re-derivation and the growth re-pin both floor the roll, so a
    premature maintenance pass can never pin sub-row-group files."""
    import json as _json

    from sortify_spark.sources.versioned import (
        compact,
        delete_versioned,
        overwrite_versioned,
        read_manifest,
    )

    # (a) empty snapshot: no pin, no amend commit
    df = spark.createDataFrame(
        [(i, i % 2, i % 5) for i in range(20)],
        "id long, pb int, owner int",
    )
    with tempfile.TemporaryDirectory() as root:
        path = os.path.join(root, "t")
        overwrite_versioned(
            df, path, partition_col="pb",
            layout_col="owner", layout_files=4,
        )
        delete_versioned(
            df.select("id", "pb"), path, keys=("id",),
            partition_col="pb",
        )
        assert read_manifest(path)["partitions"] == {}
        mpath = os.path.join(path, "_MANIFEST")
        with open(mpath) as fh:
            man = _json.load(fh)
        del man["layout_roll"]  # simulate a legacy table
        with open(mpath, "w") as fh:
            _json.dump(man, fh)
        v0 = read_manifest(path)["version"]
        assert compact(spark, path, partition_col="pb") is None
        man1 = read_manifest(path)
        assert "layout_roll" not in man1  # nothing pinned
        assert man1["version"] == v0  # and nothing committed

    # (b) tiny snapshot + recorded floor: the legacy re-derivation
    # pins max(ceil(mx/files), floor) = floor, committed as a
    # metadata-only version whose number compact returns (ADVICE r12)
    tiny = spark.createDataFrame(
        [(i, i % 2, i % 3) for i in range(8)],  # 4 rows per partition
        "id long, pb int, owner int",
    )
    with tempfile.TemporaryDirectory() as root:
        path = os.path.join(root, "t2")
        overwrite_versioned(
            tiny, path, partition_col="pb",
            layout_col="owner", layout_files=4,
            layout_min_file_rows=50,
        )
        man = read_manifest(path)
        assert man["layout_floor"] == 50
        assert man["layout_roll"] == 50  # floored at build already
        mpath = os.path.join(path, "_MANIFEST")
        with open(mpath) as fh:
            raw = _json.load(fh)
        del raw["layout_roll"]  # legacy: roll lost, floor kept
        with open(mpath, "w") as fh:
            _json.dump(raw, fh)
        v0 = read_manifest(path)["version"]
        got = compact(spark, path, partition_col="pb")
        assert got == v0 + 1  # the amend's version, not None
        man1 = read_manifest(path)
        assert man1["layout_roll"] == 50  # ceil(4/4)=1 floored to 50
        assert man1["partitions"] == raw["partitions"]
