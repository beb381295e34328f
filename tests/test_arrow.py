"""The shared Arrow boundary (operators/arrow.py): typed outputs, id
pass-through and explode, directly and through Spark."""

import pyarrow as pa
import pytest

from tesseract_rs_spark.operators.arrow import (
    arrow_fields,
    explode_rows,
    map_batch,
    map_docs,
)


def _batch(id_type=pa.string()):
    return pa.RecordBatch.from_arrays(
        [pa.array(["a", "b", "c"], id_type), pa.array([b"x", b"yy", b""])],
        names=["url", "html"],
    )


def test_float_for_long_field_names_the_column():
    fields = arrow_fields("status string, n long")
    fn = lambda ps: [["ok"] * len(ps), [len(p) / 2 for p in ps.to_pylist()]]  # noqa: E731
    with pytest.raises(TypeError, match=r"column 'n' \(int64\)"):
        map_batch(_batch(), 1, fn, fields)
    # a length mismatch names the column too
    short = lambda ps: [["ok"] * len(ps), [1]]  # noqa: E731
    with pytest.raises(ValueError, match="column 'n': 1 values for 3 rows"):
        map_batch(_batch(), 1, short, fields)
    with pytest.raises(ValueError, match="1 columns returned"):
        map_batch(_batch(), 1, lambda ps: [["ok"] * len(ps)], fields)


def test_ids_pass_through_with_their_input_type():
    fields = arrow_fields("n long, spans array<struct<start: long, end: long>>")
    fn = lambda ps: [  # noqa: E731
        [len(p) for p in ps.to_pylist()],
        [[(0, len(p))] for p in ps.to_pylist()],
    ]
    for id_type in (pa.string(), pa.large_string()):
        out = map_batch(_batch(id_type), 1, fn, fields)
        assert out.schema.field("url").type == id_type
        assert out.schema.field("spans").type == fields.field("spans").type
        assert out.to_pylist()[1] == {
            "url": "b", "n": 2, "spans": [{"start": 0, "end": 2}],
        }


def test_explode_repeats_ids_per_row():
    fields = arrow_fields("i long, ch string")
    fn = lambda ps: explode_rows([list(enumerate(p.decode())) for p in ps.to_pylist()])  # noqa: E731
    out = map_batch(_batch(pa.large_string()), 1, fn, fields, explode=True)
    assert out.schema.field("url").type == pa.large_string()
    assert [tuple(r.values()) for r in out.to_pylist()] == [
        ("a", 0, "x"), ("b", 0, "y"), ("b", 1, "y"),
    ]
    assert map_batch(_batch().slice(2), 1, fn, fields, explode=True) is None


def test_arrow_column_of_the_field_type_passes_uncopied():
    fields = arrow_fields("sig array<long>")
    sig = pa.array([[1, 2], [], [3]], pa.list_(pa.int64()))
    out = map_batch(_batch(), 1, lambda ps: [sig], fields)
    assert out.column(1).buffers()[1].address == sig.buffers()[1].address
    assert out.to_pylist()[0] == {"url": "a", "sig": [1, 2]}


def test_arrow_column_of_another_type_names_the_column():
    fields = arrow_fields("n long, sig array<long>")
    narrow = pa.array([[1], [2], [3]], pa.list_(pa.int32()))
    fn = lambda ps: [[1, 2, 3], narrow]  # noqa: E731
    with pytest.raises(TypeError, match=r"column 'sig' \(list<item: int64>\)"):
        map_batch(_batch(), 1, fn, fields)
    # no silent cast for a wider type either
    fn = lambda ps: [pa.array([1, 2, 3], pa.int32()), narrow]  # noqa: E731
    with pytest.raises(TypeError, match="column 'n'"):
        map_batch(_batch(), 1, fn, fields)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_null_embedding_emits_no_rows(spark, id_type):
    """A NULL embedding has no LSH bucket or IVF/IMI cell: every
    assignment stage skips its row, in a mixed batch and in an all-NULL
    one, and passes the other ids through with their type."""
    from tesseract_rs_spark.functions.similarity import (
        imi_assign,
        ivf_assign,
        lsh_signatures,
    )

    cast = int if id_type == "long" else str
    rows = [
        (cast(1), [1.0, 0.0, 0.5, 0.2]),
        (cast(2), None),
        (cast(3), [0.0, 1.0, -0.5, 0.1]),
    ]
    schema = f"vec_id {id_type}, embedding array<double>"
    mixed = spark.createDataFrame(rows, schema).coalesce(1)
    nulls = spark.createDataFrame([rows[1]], schema)
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    halves = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    stages = {
        "lsh_signatures": (lambda df: lsh_signatures(df, n_tables=3, dim=4), 3),
        "ivf_assign": (lambda df: ivf_assign(df, cents, nprobe=2), 2),
        "imi_assign": (
            lambda df: imi_assign(df, halves, halves, nprobe_per_half=2), 4
        ),
    }
    for name, (stage, per_vec) in stages.items():
        out = stage(mixed)
        assert out.schema["vec_id"].dataType.simpleString() == (
            "bigint" if id_type == "long" else "string"
        ), name
        ids = [r["vec_id"] for r in out.collect()]
        assert sorted(ids) == sorted([cast(1), cast(3)] * per_vec), name
        assert stage(nulls).collect() == [], name


def test_embedding_width_mismatch_names_both_widths(spark):
    """Each assignment stage checks the embedding width against its
    hyperplanes or codebook and raises naming both widths, instead of
    numpy's raw matmul message."""
    from tesseract_rs_spark.functions.similarity import (
        imi_assign,
        ivf_assign,
        lsh_signatures,
    )

    wide = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0])], "vec_id long, embedding array<double>"
    )
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    halves = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    stages = {
        "lsh_signatures": lambda df: lsh_signatures(df, dim=4),
        "ivf_assign": lambda df: ivf_assign(df, cents),
        "imi_assign": lambda df: imi_assign(df, halves, halves),
    }
    for name, stage in stages.items():
        with pytest.raises(Exception, match="vector dim 6 != codebook dim 4"):
            stage(wide).collect()


def test_unsupported_field_list_raises():
    for ddl in ("m map<string, long>", "a array<long", "a long b"):
        with pytest.raises(ValueError, match="unsupported field list"):
            arrow_fields(ddl)


def test_spark_stage_fails_in_python_naming_the_column(spark):
    """mapInArrow itself checks no types: without the helper's typing a
    wrong-typed column dies on the JVM (``getLong``) or is misread."""
    pages = spark.createDataFrame([("u", bytearray(b"xyz"))], "url string, html binary")
    df = map_docs(pages, ("url",), "html", "n long", lambda ps: [[0.5] * len(ps)])
    with pytest.raises(Exception, match="column 'n'"):
        df.collect()


def test_large_var_types_give_the_same_rows(spark):
    """With ``useLargeVarTypes`` ids and payloads arrive as
    ``large_string``/``large_binary``: every ported stage returns the same
    rows as with the default setting."""
    from tesseract_rs_spark.corpus import render_html
    from tesseract_rs_spark.functions.cleaning import curate
    from tesseract_rs_spark.functions.dedup import minhash_signatures
    from tesseract_rs_spark.functions.text import text_signals
    from tesseract_rs_spark.kernels.raster import render_page
    from tesseract_rs_spark.operators.extract import extract_text, extract_words
    from tesseract_rs_spark.operators.ocr import ocr_text

    html = spark.createDataFrame(
        [
            ("u1", bytearray(render_html("alpha beta gamma " * 20, 1, "en").encode())),
            ("u2", bytearray(b"<p>ab\xc3\x28cd</p>")),
            ("u3", None),
        ],
        "url string, html binary",
    )
    raster = spark.createDataFrame(
        [("r1", bytearray(render_page("abc def ghi jkl"))), ("r2", bytearray(b"PAGE?"))],
        "url string, html binary",
    )
    kept = " ".join(["the"] + [f"w{i}" for i in range(60)])  # passes curate
    docs = spark.createDataFrame(
        [
            ("d1", "one two three four five six"),
            ("d2", "too short"),
            ("d3", kept),
            ("d4", kept),
        ],
        "url string, text string",
    )
    stages = {
        "extract_text": lambda: extract_text(html, spans=True),
        "extract_words": lambda: extract_words(html),
        "ocr_text": lambda: ocr_text(raster),
        "minhash_signatures": lambda: minhash_signatures(docs, id_col="url"),
        "text_signals": lambda: text_signals(docs, ("url",)),
        "curate": lambda: curate(docs, id_col="url"),
    }
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    out = {}
    for v in ("false", "true"):
        spark.conf.set(key, v)
        try:
            out[v] = {name: sorted(f().collect()) for name, f in stages.items()}
        finally:
            spark.conf.unset(key)
    for name in stages:
        assert out["true"][name], name
        assert out["true"][name] == out["false"][name], name
