"""RFC 5322/MIME parsing (operators/eml) — header unfolding,
RFC 2047 encoded-words, QP/base64 bodies, multipart recursion,
attachment inventory."""

import pytest

from bigdata_invoice_stream_analysis_spark.operators.eml import (
    decode_header_value,
    encode_eml,
    eml_message_profile,
    parse_content_type,
    parse_eml,
    parse_headers,
)


def test_simple_message():
    m = parse_eml(encode_eml())
    assert m["subject"] == "Meeting notes"
    assert m["from_addr"] == "a.sender@example.com"
    assert m["text"] == "Plain body."
    assert m["n_parts"] == 1
    assert m["has_addresses"]


def test_header_unfolding():
    raw = ("Subject: a very\r\n long folded\r\n\tsubject line\r\n"
           "From: x@example.com\r\n\r\nbody")
    headers, off = parse_headers(raw)
    assert headers["subject"] == "a very long folded subject line"
    assert raw[off:] == "body"


def test_rfc2047_encoded_words():
    # B and Q encodings, and §6.2: whitespace between ADJACENT
    # encoded words drops
    assert decode_header_value(
        "=?utf-8?B?SGVsbG8g?= =?utf-8?B?d29ybGQ=?=") == "Hello world"
    assert decode_header_value(
        "=?utf-8?Q?caf=C3=A9_time?= tail") == "café time tail"
    m = parse_eml(encode_eml(subject="Résumé attached",
                             encode_subject=True))
    assert m["subject"] == "Résumé attached"


def test_bad_encoded_word_raises():
    with pytest.raises(ValueError, match="base64"):
        decode_header_value("=?utf-8?B?!!!notb64!!!?=")


def test_quoted_printable_body():
    m = parse_eml(encode_eml(text="café — naïve", qp_body=True,
                             html="<p>x</p>"))
    assert m["text"] == "café — naïve"


def test_multipart_with_attachment():
    m = parse_eml(encode_eml(
        html="<p>hi</p>",
        attachments=[("report.pdf", "application/pdf", bytes(100))]))
    assert m["n_parts"] == 3
    assert m["n_html_parts"] == 1
    assert m["n_attachments"] == 1
    a = m["attachments"][0]
    assert a["filename"] == "report.pdf"
    assert a["decoded_bytes"] == 100
    assert m["text"] == "Plain body."


def test_content_type_params():
    head, params = parse_content_type(
        'multipart/mixed; boundary="b=1"; charset=utf-8')
    assert head == "multipart/mixed"
    assert params["boundary"] == "b=1"  # quoted value with '='
    assert params["charset"] == "utf-8"


def test_nested_multipart():
    inner_b = "inner_b"
    inner = (
        f'Content-Type: multipart/alternative; boundary="{inner_b}"'
        f"\r\n\r\n--{inner_b}\r\n"
        "Content-Type: text/plain\r\n\r\ninner text\r\n"
        f"--{inner_b}\r\n"
        "Content-Type: text/html\r\n\r\n<p>h</p>\r\n"
        f"--{inner_b}--\r\n")
    outer_b = "outer_b"
    raw = (
        "From: a@example.com\r\nSubject: s\r\n"
        f'Content-Type: multipart/mixed; boundary="{outer_b}"'
        f"\r\n\r\n--{outer_b}\r\n" + inner
        + f"\r\n--{outer_b}--\r\n")
    m = parse_eml(raw)
    assert m["text"] == "inner text"
    assert m["n_html_parts"] == 1


def test_nesting_bound():
    raw = "From: a@b.c\r\nSubject: s\r\n"
    body = "deep"
    for i in range(12):
        b = f"b{i}"
        body = (f'Content-Type: multipart/mixed; boundary="{b}"'
                f"\r\n\r\n--{b}\r\n" + body + f"\r\n--{b}--\r\n")
    with pytest.raises(ValueError, match="nesting"):
        parse_eml(raw + body)


def test_missing_boundary_raises():
    with pytest.raises(ValueError, match="without boundary"):
        parse_eml("From: a@b.c\r\n"
                  "Content-Type: multipart/mixed\r\n\r\nx")


def test_lf_only_mail_accepted():
    raw = "From: a@b.c\nSubject: lf mail\n\nbody here"
    m = parse_eml(raw)
    assert m["subject"] == "lf mail"
    assert m["text"] == "body here"


def test_profile_operator(spark):
    files = spark.createDataFrame(
        [
            (0, encode_eml()),
            (1, encode_eml(
                subject="Résumé", encode_subject=True,
                attachments=[("a.bin", "application/octet-stream",
                              bytes(64))])),
            (2, "not an email at all"),
        ],
        "file_id long, text string",
    )
    rows = {r["file_id"]: r
            for r in eml_message_profile(files).collect()}
    assert rows[0]["ok"] and rows[0]["text"] == "Plain body."
    assert rows[1]["subject"] == "Résumé"
    assert rows[1]["attachment_bytes"] == 64
    assert not rows[2]["ok"]
    plan = eml_message_profile(files)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


MBOX = (
    "From alice@example.com Mon Aug 10 09:00:00 2026\r\n"
    + encode_eml(subject="first")
    + "\r\nFrom bob@example.com Mon Aug 10 10:00:00 2026\r\n"
    + "From: bob@example.com\r\nSubject: second\r\n\r\n"
    + ">From here the body quotes an envelope line\r\n"
    + ">>From deeper quoting stays untouched? no: one > drops\r\n"
)


def test_mbox_split_and_unescape():
    from bigdata_invoice_stream_analysis_spark.operators.eml import (
        split_mbox,
    )

    msgs = split_mbox(MBOX)
    assert len(msgs) == 2
    assert msgs[0].startswith("From:")
    # mboxrd: exactly one '>' drops at every quoting depth
    assert "\nFrom here the body" in msgs[1].replace("\r\n", "\n")
    assert ">From deeper" in msgs[1]


def test_mbox_requires_envelope():
    from bigdata_invoice_stream_analysis_spark.operators.eml import (
        split_mbox,
    )

    with pytest.raises(ValueError, match="envelope"):
        split_mbox("From: not-an-envelope\r\n\r\nx")
