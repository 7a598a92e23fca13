"""Byte-stability pins for every synthetic-PDF generator.

The golden corpus (fixtures.PdfBuilder), docgen and the crypto fixtures
all serialize through fixtures.write_pdf. Their bytes feed the oracle
queries, the golden corpus and the benchmark inputs, so a writer change
that moves one byte would silently re-pin all of them. Each digest
below is a sha256 over the length-prefixed outputs of one generator on
a fixed text set; a deliberate format change must re-pin them here."""

import functools
import hashlib
import pathlib

import pytest

_TEXTS = [
    "",
    "word",
    r"a (b) c\d ((x)) \\ ) ( end \(y\) " * 6,
    " ".join(f"w{k % 97} spark pdf" for k in range(400))[:2000],
    "漢字 текст ∑ — “quoted” ✓",
]
# ids hit every per-id tier: mixed html/pdf parity, pdf_annot's %4 %5
# %6 %7 %10 tiers, pdf_outline_dests' %7 bookmarks, the junk row's %5
_IDS = [0, 7, 12, 30, 35]

_SYNTH_FMTS = [
    "html", "mixed", "pdf", "pdf_multi", "pdf_outline_dests", "pdf_labels",
    "pdf_2col", "pdf_kerned", "pdf_cjk", "pdf_narrow_gutter", "pdf_post",
    "pdf_table", "pdf_table_sparse", "pdf_vertical", "pdf_rtl", "pdf_bidi",
    "pdf_table_ragged", "pdf_table_header", "pdf_table_colspan",
    "pdf_table_multipage", "pdf_layout_mix", "pdf_tagged", "pdf_annot",
]


def _sha(blobs) -> str:
    h = hashlib.sha256()
    for b in blobs:
        h.update(len(b).to_bytes(8, "big") + b)
    return h.hexdigest()


@functools.lru_cache(maxsize=None)
def _digests() -> dict:
    from pdfspark import crypto_fixtures as cf
    from pdfspark.corpus import all_cases
    from pdfspark.docgen import text_to_pdf_cjk_kerned, text_to_pdf_vertical_w2
    from pdfspark.pipeline import _synth_page

    def synth(fmt, non_pdf_every=0):
        return _sha(_synth_page(i, t, "en", fmt, non_pdf_every)[1]
                    for i in _IDS for t in _TEXTS)

    out = {f"synth:{fmt}": synth(fmt) for fmt in _SYNTH_FMTS}
    out["synth:pdf+junk"] = synth("pdf", non_pdf_every=5)
    out["vertical_w2"] = _sha(text_to_pdf_vertical_w2(t, meta_id=i)
                              for i, t in enumerate(_TEXTS))
    out["cjk_no_metrics"] = _sha(
        text_to_pdf_cjk_kerned(t, meta_id=i, embed_metrics=False)
        for i, t in enumerate(_TEXTS))
    out["corpus"] = _sha(c.pdf for c in all_cases())
    secret = "secret (text)"
    out["crypto:encrypted"] = _sha(
        [cf.build_encrypted_pdf(secret, cfm=cfm, user_password=pw)
         for cfm in ("rc4", "aesv2", "aesv3") for pw in (b"", b"pw")]
        + [cf.build_encrypted_pdf(secret, cfm="aesv2", strf_identity=True,
                                  title="T (1)"),
           cf.build_encrypted_pdf(secret, title="T")])
    out["crypto:crypt_identity"] = _sha([cf.build_crypt_identity_pdf(secret)])
    out["crypto:named_crypt"] = _sha([cf.build_named_crypt_pdf(secret)])
    out["crypto:encmeta_false"] = _sha(
        [cf.build_encmeta_false_pdf(secret, b"<x>xmp</x>")])
    out["crypto:encrypted_objstm"] = _sha(
        [cf.build_encrypted_objstm_pdf(secret)])
    out["crypto:unsupported"] = _sha([cf.build_unsupported_encrypted_pdf()])
    return out


# recorded at the commit before the shared writer (byte-identical since)
PINS = {
    "cjk_no_metrics":
        "d1c1729d8f2fb220b838c5ec43abff52198a7164f1b9fb60c44b94f2066a31c5",
    "corpus":
        "e18f9989dcfe9c87eb7b381b03c8cb14eb36d84224a250423b6f9c7c0540b131",
    "crypto:crypt_identity":
        "b6bec675c676d1a3805e7876021dd6e8e4234db8fdb65edc2af8b0db1f0a5d49",
    "crypto:encmeta_false":
        "dfbd9ea3009f225bb6fc729b812a6d834f29ffa96ae79f24b29c3d79f0b17a87",
    "crypto:encrypted":
        "37ff6ca3750d0da7ac36f62d52f7b9e28db0e84a0b4ab3af59d3cd2826db2898",
    "crypto:encrypted_objstm":
        "6ad6c243c6ab20de97b6b45fa552dea5a5e338c48138dadb3236853d83149863",
    "crypto:named_crypt":
        "7ffc62ce23908677cf3cd4e63ad89d18d0898ca1a2d16360158ec932a6c5b0c3",
    "crypto:unsupported":
        "a1d3d4c4febe15ad11d151ca28bc915543f7b78a19e33539583598a633894084",
    "synth:html":
        "4469197fb20eb2c5e804458f0080c709e438e2dc53c0fa4c3e7b502f5836d17e",
    "synth:mixed":
        "bc375a515cdbbf24e950b55f3f2bc8370b05859ff8fd2cdcbb1ef78affb04b00",
    "synth:pdf":
        "d881c43cc554249e01d6b0a3eaebceee619ff6a622b72595a1a8bb1a327a152c",
    "synth:pdf+junk":
        "e25d04263c8df7da3c8114e39d74395e935613c17773ea95041f87fcc1007cc2",
    "synth:pdf_2col":
        "b145c5516dc86cb57330a5966f6e143aa31d0a54114f5280239605b98a093ce4",
    "synth:pdf_annot":
        "70dbceb5a24a99b33396c27fe89e609fe55661193cdbecfcfe2d7eafdb4a2432",
    "synth:pdf_bidi":
        "19aa9f0917ee0e70304041c2f1a442d95dc506a4ab5b9a50e1571420bfff7219",
    "synth:pdf_cjk":
        "93eb3b3c28fe60fcf33f34ca3c4879ac6b24c2e015fc3247e56163459bbdb27b",
    "synth:pdf_kerned":
        "a0eff14a3b922292a2db7029d73c4cc1e41eb9321de1c2e431d2690cbe503dcf",
    "synth:pdf_labels":
        "594840f99e0b277851178eafc91642577830b43ef0b9c9e9ba94c50a16bbf3c1",
    "synth:pdf_layout_mix":
        "da49b7acdb963fc53995241d5c33294a8711d661ebba9413e308d839f47c0027",
    "synth:pdf_multi":
        "ea99e7598a865e22a66529fb303aea1c9a7cf358ec75e3b3fb0cfc5780f3f966",
    "synth:pdf_narrow_gutter":
        "05d94bf98b4073486f00c0d84317dd00d437828e9d1492fa394ebe65a2eee676",
    "synth:pdf_outline_dests":
        "f3d5a93f7e42beaa3750a509fb7b87b16bb8a2ccf5b956bc73ec7c951fe92493",
    "synth:pdf_post":
        "e047fa70c01eb21db101852b558d01c164fde3e22498a26eb61a94b2a6c61b26",
    "synth:pdf_rtl":
        "aaa648352ab6b852b13cbdaaf05684e78c5943232dc1550e3498e257eeebe40c",
    "synth:pdf_table":
        "76c8b668cddb6099b4bd78395ffca259d8046761e75d78322bb3bb00d78d7f60",
    "synth:pdf_table_colspan":
        "87ca296068fdfafd9614512ca09b0c7269bd593b70e2ee6a29d4cced41cdb8e0",
    "synth:pdf_table_header":
        "6398def533b3744d5b3b2747f64b04cd96d748dd881f8dc032710c6faa5366fe",
    "synth:pdf_table_multipage":
        "cfe43a1b47bd6c2219a3706c1bb4f88c56b1587cbf0e43b269c3d76c5974a8ba",
    "synth:pdf_table_ragged":
        "eb91c5cce74afbd4f345fcf21b43e9a8b70363064a92be22979c8ce44c9f435b",
    "synth:pdf_table_sparse":
        "4b9e1c3b3db9c251709c4949efda9ffb707ff3c408917d0dddf5083257a7ab92",
    "synth:pdf_tagged":
        "ec30b62b176ded9979f635dada1ff8189e530cf1571d32f1ced2c2ee1ffe6599",
    "synth:pdf_vertical":
        "dc6c0869b4dcb8bebf313abbedf77a225bc9b8d8ae7059e06b961eb531f449a7",
    "vertical_w2":
        "5b96686ca97c75bae1f3c26882b1ff45c1a2697ca3f20e4e5bb7b571e6675f10",
}


@pytest.mark.parametrize("name", sorted(PINS))
def test_generated_bytes_unchanged(name):
    assert _digests()[name] == PINS[name]


def test_pins_cover_every_generator():
    assert sorted(_digests()) == sorted(PINS)


def test_every_synth_fmt_degrades_unencodable_letters():
    """Latin-1 letters a generator's target encoding lacks (GBK has no
    ï, Æ or ø) degrade to "?" instead of raising, in every fmt."""
    from pdfspark.kernel.extract import extract_document
    from pdfspark.pipeline import _synth_page

    text = "naïve Ærø café déjà vu"
    for fmt in _SYNTH_FMTS:
        for i in _IDS:
            _url, payload = _synth_page(i, text, "en", fmt, 0)
            assert extract_document(payload).error is None, (fmt, i)


def test_docgen_writes_no_xref():
    """docgen builds objects only; fixtures.write_pdf is the one
    classic-xref writer, so no xref table or trailer is spelled in
    docgen.py."""
    src = (pathlib.Path(__file__).resolve().parent.parent
           / "pdfspark" / "docgen.py").read_text(encoding="utf-8")
    assert "xref" not in src and "startxref" not in src
