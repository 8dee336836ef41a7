"""tar archive extraction: parser vs the independent stdlib writer,
dispatch recursion, error values, pax extensions."""

import io
import tarfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_ocr_spark.kernels.archive import build_tar, is_tar, split_tar
from open_ocr_spark.kernels.dispatch import extract_document
from open_ocr_spark.kernels.eml_text import build_eml


def _archive(i=5):
    return build_tar([
        ("site/page.html",
         f"<html><body><p>Tar member html {i} café.</p></body></html>"
         .encode()),
        ("mail/m.eml", build_eml(f"Tar msg {i % 7}", f"Tar body {i}.",
                                 variant=i % 4)),
        ("notes/plain.txt", f"Plain member {i} text.".encode()),
    ])


def test_split_roundtrip_against_stdlib_writer():
    raw = _archive()
    assert is_tar(raw)
    names = [n for n, _ in split_tar(raw)]
    assert names == ["site/page.html", "mail/m.eml", "notes/plain.txt"]


def test_dispatch_joins_member_texts_in_order():
    text, status, err = extract_document(_archive(5))
    assert status == "ok" and err == ""
    assert text == ("Tar member html 5 café.\n"
                    "Tar msg 5\n\nTar body 5.\n\n"
                    "Plain member 5 text.")


def test_nested_archive_is_an_error_value():
    _, status, err = extract_document(build_tar([("inner.tar", _archive())]))
    assert status == "error:tar-member" and "depth" in err


def test_corrupt_checksum_is_an_error_value():
    bad = bytearray(_archive())
    bad[148:156] = b"0000000\x00"
    _, status, _ = extract_document(bytes(bad))
    assert status == "error:tar-unsupported"
    assert not is_tar(bytes(bad))


def test_failing_member_names_the_member():
    raw = build_tar([("ok.txt", b"fine"),
                     ("bad.bin", b"\x89PNG\r\n\x1a\n garbage pixels")])
    _, status, err = extract_document(raw)
    assert status == "error:tar-member" and "bad.bin" in err


def test_truncated_member_data():
    raw = _archive()[:700]  # header survives, data cut
    with pytest.raises(ValueError, match="truncated"):
        split_tar(raw)


def test_pax_long_and_unicode_names():
    buf = io.BytesIO()
    long_name = "café-ü-" + "x" * 120 + ".txt"
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.PAX_FORMAT) as tf:
        for nm, data in [(long_name, b"pax member"), ("plain.txt", b"two")]:
            info = tarfile.TarInfo(name=nm)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    got = split_tar(buf.getvalue())
    assert got == [(long_name, b"pax member"), ("plain.txt", b"two")]


def test_dirs_and_links_skipped():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        d = tarfile.TarInfo(name="adir")
        d.type = tarfile.DIRTYPE
        d.mtime = 0
        tf.addfile(d)
        ln = tarfile.TarInfo(name="alink")
        ln.type = tarfile.SYMTYPE
        ln.linkname = "adir/f"
        ln.mtime = 0
        tf.addfile(ln)
        f = tarfile.TarInfo(name="adir/f.txt")
        f.size = 4
        f.mtime = 0
        tf.addfile(f, io.BytesIO(b"text"))
    assert split_tar(buf.getvalue()) == [("adir/f.txt", b"text")]


@settings(max_examples=25, deadline=None)
@given(members=st.lists(
    st.tuples(
        st.from_regex(r"[a-z][a-z0-9_./-]{0,40}[a-z0-9]", fullmatch=True)
        .filter(lambda n: ".." not in n and "//" not in n),
        st.binary(min_size=0, max_size=2048),
    ),
    min_size=1, max_size=8, unique_by=lambda m: m[0],
))
def test_property_split_matches_stdlib(members):
    raw = build_tar(members)
    assert split_tar(raw) == members
    # cross-check with the stdlib READER too: both parsers must agree
    with tarfile.open(fileobj=io.BytesIO(raw)) as tf:
        std = [(m.name, tf.extractfile(m).read()) for m in tf
               if m.isfile()]
    assert std == members


# ---------------------------------------------------------------------------
# gzip transparent encoding + generic zip
# ---------------------------------------------------------------------------

import gzip as _gzip

from open_ocr_spark.kernels.archive import (  # noqa: E402
    build_zip,
    gunzip_payload,
    split_zip,
)


def test_gzip_html_roundtrip():
    html = "<html><body><p>Gz café.</p></body></html>".encode()
    text, status, _ = extract_document(_gzip.compress(html, mtime=0))
    assert (text, status) == ("Gz café.", "ok")


def test_gzip_of_tar_composes():
    tar = build_tar([("a.html", b"<p>A part.</p>"), ("b.txt", b"B part.")])
    text, status, _ = extract_document(_gzip.compress(tar, mtime=0))
    assert status == "ok" and text == "A part.\nB part."


def test_gzip_error_values():
    _, status, err = extract_document(b"\x1f\x8b\x08corrupt")
    assert status == "error:gzip-unsupported"
    _, status, err = extract_document(
        _gzip.compress(b"<p>x</p>") + b"JUNK")
    assert status == "error:gzip-unsupported" and "trailing" in err
    # truncated stream
    whole = _gzip.compress(b"<p>hello truncated</p>", mtime=0)
    _, status, err = extract_document(whole[:-5])
    assert status == "error:gzip-unsupported" and "truncated" in err


def test_gunzip_cap_is_an_error():
    import pytest as _pytest
    big = _gzip.compress(b"\x00" * 4096, mtime=0)
    with _pytest.raises(ValueError, match="exceeds"):
        gunzip_payload(big, cap=1024)


def test_multi_member_gzip_concatenates():
    two = (_gzip.compress(b"<p>one ", mtime=0)
           + _gzip.compress(b"two.</p>", mtime=0))
    assert gunzip_payload(two) == b"<p>one two.</p>"


def test_generic_zip_members_route_through_dispatch():
    z = build_zip([("a.html", b"<p>Z html.</p>"), ("t.txt", b"Z txt.")])
    text, status, _ = extract_document(z)
    assert status == "ok" and text == "Z html.\nZ txt."
    assert split_zip(z) == [("a.html", b"<p>Z html.</p>"),
                            ("t.txt", b"Z txt.")]


def test_office_zip_still_routes_to_office():
    # a zip with word/document.xml must hit the docx branch, not the
    # generic one
    from open_ocr_spark.kernels.docx_text import build_docx

    text, status, _ = extract_document(build_docx(["Body para."]))
    assert status == "ok" and "Body para." in text


def test_zip_nested_in_tar_is_depth_error():
    z = build_zip([("x.txt", b"x")])
    _, status, err = extract_document(build_tar([("inner.zip", z)]))
    assert status == "error:tar-member" and "depth" in err


def test_zip_declared_size_bomb_guard():
    import pytest as _pytest
    import zipfile as _zf
    import io as _io
    buf = _io.BytesIO()
    with _zf.ZipFile(buf, "w", _zf.ZIP_DEFLATED) as zf:
        zf.writestr("big.bin", b"\x00" * (1 << 20))
    raw = buf.getvalue()
    # shrink the guard via monkeypatching would hide the real path; the
    # declared-size check itself is unit-tested through split_zip's guard
    from open_ocr_spark.kernels import archive
    old = archive.MAX_GUNZIP_BYTES
    archive.MAX_GUNZIP_BYTES = 1024
    try:
        with _pytest.raises(ValueError, match="declared size"):
            split_zip(raw)
    finally:
        archive.MAX_GUNZIP_BYTES = old


def test_encrypted_zip_member_is_a_clean_error_value():
    # zipfile raises RuntimeError for encrypted members; the dispatch
    # must classify that as zip-unsupported, never error:internal
    raw = bytearray(build_zip([("x.txt", b"secret")]))
    raw[6] |= 0x01                       # local header: encryption flag
    cd = raw.rfind(b"PK\x01\x02")
    raw[cd + 8] |= 0x01                  # central directory flag too
    _, status, err = extract_document(bytes(raw))
    assert status == "error:zip-unsupported", (status, err)


def test_archive_attachments_are_nested_archives():
    # the attachment redispatch inherits the archive depth budget: an
    # archive attachment is a nested archive by definition (the guard
    # that stops the constant-depth gzip+eml matryoshka), while a
    # DOCUMENT attachment (gzipped page) extracts fine
    import base64 as _b64

    def mail(payload: bytes, ctype: str) -> bytes:
        b64 = _b64.b64encode(payload).decode()
        return (
            "From: a@b\r\nSubject: s\r\nMIME-Version: 1.0\r\n"
            'Content-Type: multipart/mixed; boundary="BB"\r\n\r\n'
            f"--BB\r\nContent-Type: {ctype}\r\n"
            "Content-Transfer-Encoding: base64\r\n\r\n"
            f"{b64}\r\n--BB--\r\n"
        ).encode()

    tar_mail = mail(build_tar([("x.txt", b"deep")]), "application/x-tar")
    _, status, err = extract_document(tar_mail)
    assert status == "error:eml-unsupported" and "attachments" in err
    # and inside a tar the same mail fails as a member, not a crash
    _, status, err = extract_document(build_tar([("m.eml", tar_mail)]))
    assert status == "error:tar-member"

    gz_mail = mail(_gzip.compress(b"<p>Gz attached.</p>", mtime=0),
                   "application/gzip")
    text, status, _ = extract_document(gz_mail)
    assert status == "ok" and text == "s\n\nGz attached.\n"


def test_gzip_respects_the_per_document_byte_budget():
    # a tiny .gz inflating past MAX_DOC_BYTES must be error:too-large,
    # the same classification an equally large raw payload gets
    from open_ocr_spark.kernels import dispatch

    old = dispatch.MAX_DOC_BYTES
    dispatch.MAX_DOC_BYTES = 4096
    try:
        bomb = _gzip.compress(b"<p>" + b"x" * 8192 + b"</p>", mtime=0)
        assert len(bomb) < 4096
        _, status, err = extract_document(bomb)
        assert status == "error:too-large", (status, err)
    finally:
        dispatch.MAX_DOC_BYTES = old


def test_gnu_long_name_records():
    buf = io.BytesIO()
    long_name = "gnu-" + "y" * 150 + ".txt"
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.GNU_FORMAT) as tf:
        info = tarfile.TarInfo(name=long_name)
        info.size = 3
        info.mtime = 0
        tf.addfile(info, io.BytesIO(b"gnu"))
    assert split_tar(buf.getvalue()) == [(long_name, b"gnu")]


def test_tar_whose_first_member_name_opens_with_lt_routes_as_tar():
    # the header starts with the member name, so the payload's first byte
    # is "<": the dispatch's markup fast route must still see the tar
    raw = build_tar([("<page>.html", b"<p>Angle member.</p>")])
    assert raw[:1] == b"<"
    assert extract_document(raw) == ("Angle member.", "ok", "")
