"""new_name in two parts: the lp-independent ``name_stem`` computed in the
extraction pass, and the composition with ``lp`` done in the JVM.

Kernel: ``filename_for`` ≡ ``compose_filename(num, name_stem(info))`` ≡ the
single-function naming rule it was split from, over the golden cases and a
fuzz.  Spark: ``new_name_col`` ≡ ``compose_filename`` for every row, and
the pipeline's ``new_name`` ≡ ``filename_for`` over its own output fields,
both branches (``dokument_do_weryfikacji_``) included.
"""

import random
import re

import pytest
from hypothesis import given, settings, strategies as st

from archvisier_spark.kernel.naming import compose_filename, filename_for, name_stem

_SCRUB = re.compile(r"[\\/*?:\"<>|]")


def _unsplit_filename(info, num):
    """The naming rule as one function (gui/processing_worker.py:311-349),
    the reference the two-part form must reproduce."""
    def part(key):
        return _SCRUB.sub("", info.get(key, "")).strip()

    sygnatura = part("sygnatura_sprawy").replace(" ", "_")
    numer = part("numer_dokumentu").replace(" ", "-")
    nadawca = part("nadawca_odbiorca").upper().replace(" ", "-")[:30]
    typ = part("typ_dokumentu").upper().replace(" ", "-")
    w_sprawie = part("w_sprawie").replace(" ", "-")[:50]
    name = str(num)
    if sygnatura:
        name += f"_{sygnatura}"
    hyphen_parts = [p for p in (numer, nadawca, typ, w_sprawie) if p]
    if hyphen_parts:
        name += "_" + "-".join(hyphen_parts)
    if name == str(num):
        return f"dokument_do_weryfikacji_{num}.pdf"
    return f"{name}.pdf"


KEYS = ("sygnatura_sprawy", "numer_dokumentu", "nadawca_odbiorca", "typ_dokumentu", "w_sprawie")

GOLDEN = [
    ({"sygnatura_sprawy": "Sygnatura", "numer_dokumentu": "123",
      "nadawca_odbiorca": "Ministerstwo", "typ_dokumentu": "Umowa",
      "w_sprawie": "w sprawie"}, 1, "1_Sygnatura_123-MINISTERSTWO-UMOWA-w-sprawie.pdf"),
    ({}, 1, "dokument_do_weryfikacji_1.pdf"),
    ({k: " *?: | " for k in KEYS}, 7, "dokument_do_weryfikacji_7.pdf"),
    ({"sygnatura_sprawy": "I C 12/24"}, 3, "3_I_C_1224.pdf"),
    ({"typ_dokumentu": "pismo"}, 12, "12_PISMO.pdf"),
    ({"nadawca_odbiorca": "Zakład Ubezpieczeń Społecznych Oddział w Łodzi"}, 2,
     "2_ZAKŁAD-UBEZPIECZEŃ-SPOŁECZNYCH.pdf"),
    ({"w_sprawie": "x" * 60}, 5, "5_" + "x" * 50 + ".pdf"),
]

_part_text = st.one_of(
    st.just(""),
    st.text(alphabet=st.sampled_from(list("aZ ż Ł*?:|/\\\"<>-_.1")), max_size=70),
    st.text(max_size=70),
)
_info = st.fixed_dictionaries({}, optional={k: _part_text for k in KEYS})


@pytest.mark.parametrize("info,num,expected", GOLDEN)
def test_two_part_name_matches_golden(info, num, expected):
    assert filename_for(info, num) == expected
    assert compose_filename(num, name_stem(info)) == expected
    assert _unsplit_filename(info, num) == expected


@settings(max_examples=400, deadline=None)
@given(_info, st.integers(min_value=1, max_value=10**12))
def test_two_part_name_matches_unsplit_rule(info, num):
    assert filename_for(info, num) == compose_filename(num, name_stem(info)) \
        == _unsplit_filename(info, num)


def _random_info(rng: random.Random) -> dict:
    alphabet = "abcXYZ żółćŁ 0123 *?:|/\\\"<>-_.😀"
    return {
        k: "".join(rng.choice(alphabet) for _ in range(rng.choice((0, 0, 3, 20, 45, 70))))
        for k in KEYS
    }


def test_jvm_composition_matches_kernel(spark):
    from archvisier_spark.pipeline.extract import new_name_col

    rng = random.Random(3)
    rows = [(lp, name_stem(_random_info(rng)))
            for lp in (1, 2, 9, 10, 99, 1000, 123456789, 10**12)
            for _ in range(25)]
    rows += [(4, ""), (10**15, "")]
    assert any(stem == "" for _, stem in rows[:-2]), "fuzz must hit the empty-stem branch"
    df = spark.createDataFrame(rows, "lp long, name_stem string")
    got = df.select("lp", "name_stem", new_name_col().alias("new_name")).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r["new_name"] == compose_filename(r["lp"], r["name_stem"]), r


def test_pipeline_new_name_matches_filename_for(spark):
    """Every named row's new_name equals the kernel naming of its own
    extracted fields and lp — documents with metadata and error/empty
    documents (the ``dokument_do_weryfikacji_`` branch) alike."""
    import pandas as pd

    from archvisier_spark.corpus import generate_rows
    from archvisier_spark.pipeline.extract import extract_documents, with_new_names

    rows = generate_rows(20, seed=8)
    pdf = pd.DataFrame(
        {
            "url": [r["url"] for r in rows] + ["z-empty", "z-broken", "z-plain"],
            "warc_ts": pd.to_datetime(["2025-03-01"] * (len(rows) + 3)),
            "html": [bytes(r["html"]) for r in rows] + [b"", b"%PDF-", b"ok"],
            "lang": ["pl"] * (len(rows) + 3),
        }
    )
    named = with_new_names(extract_documents(spark.createDataFrame(pdf), partitions=3))
    out = named.collect()
    assert sorted(r["lp"] for r in out) == list(range(1, len(pdf) + 1))
    for r in out:
        assert r["new_name"] == filename_for(r.asDict(), r["lp"]), r["url"]
    names = [r["new_name"] for r in out]
    assert any(n.startswith("dokument_do_weryfikacji_") for n in names)
    assert any(not n.startswith("dokument_do_weryfikacji_") for n in names)
    assert "name_stem" not in named.columns


def test_with_new_names_requires_name_stem(spark):
    from archvisier_spark.pipeline.extract import with_new_names

    df = spark.createDataFrame([("u1", "Sygnatura")], "url string, sygnatura_sprawy string")
    with pytest.raises(ValueError, match="name_stem"):
        with_new_names(df)

