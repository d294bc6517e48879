"""vectorize.embed() SQL rewriting (F7) — regex parse themes from the
proxy's tests (proxy/src/embeddings.rs:184-244) + end-to-end through
VectorizeSession.sql()."""

from __future__ import annotations

import pytest

from pg_vectorize_spark.engine import VectorizeSession
from pg_vectorize_spark.errors import JobNotFoundError, VectorizeError
from pg_vectorize_spark.sql_rewrite import (
    find_embed_calls,
    rewrite_embed_calls,
)
from pg_vectorize_spark.sqltext import vector as vector_sql_literal


class TestParse:
    def test_basic_call(self):
        calls = find_embed_calls(
            "SELECT * FROM t ORDER BY vectorize.embed('hello world', 'job1')"
        )
        assert calls == [
            ("vectorize.embed('hello world', 'job1')", "hello world", "job1")
        ]

    def test_whitespace_variants(self):
        calls = find_embed_calls(
            "SELECT vectorize.embed( 'q' ,  'j' ) AS v"
        )
        assert calls[0][1:] == ("q", "j")

    def test_case_insensitive(self):
        assert find_embed_calls("SELECT VECTORIZE.EMBED('a', 'b')")

    def test_escaped_quotes(self):
        calls = find_embed_calls(
            "SELECT vectorize.embed('o''brien''s query', 'j')"
        )
        assert calls[0][1] == "o'brien's query"

    def test_multiple_calls(self):
        sql = (
            "SELECT vectorize.embed('a', 'j1'), vectorize.embed('b', 'j2')"
        )
        assert len(find_embed_calls(sql)) == 2

    def test_no_calls(self):
        assert find_embed_calls("SELECT 1") == []

    def test_vector_literal_shape(self):
        lit = vector_sql_literal([0.5, 1.0])
        assert lit == "array(0.5D,1.0D)"
        # non-finite components have no bare literal: CAST(inf AS DOUBLE)
        # would resolve `inf` as a column
        assert vector_sql_literal([float("inf"), float("nan")]) == (
            "array(CAST('Infinity' AS DOUBLE),CAST('NaN' AS DOUBLE))"
        )


@pytest.fixture()
def sess(spark, tmp_path, products_df):
    p = str(tmp_path / "prod.parquet")
    products_df.write.parquet(p)
    s = VectorizeSession(spark, workspace=str(tmp_path / "ws"))
    s.create_job(
        "sqljob", p, columns=["product_name", "description"],
        primary_key="product_id",
    )
    return s


class TestRewrite:
    def test_unknown_job_raises(self, sess):
        with pytest.raises(JobNotFoundError):
            rewrite_embed_calls(
                "SELECT vectorize.embed('q', 'missing_job')", sess
            )

    def test_malformed_call_raises(self, sess):
        with pytest.raises(VectorizeError):
            rewrite_embed_calls("SELECT vectorize.embed(col, 'j')", sess)

    def test_rewrite_produces_literal(self, sess):
        out = rewrite_embed_calls(
            "SELECT vectorize.embed('pencil', 'sqljob') AS v", sess
        )
        assert "vectorize.embed" not in out
        assert out.startswith("SELECT array(")
        # the spliced literal parses back to the provider's exact doubles
        from pg_vectorize_spark.providers.registry import get_provider

        want = get_provider(sess.catalog.get("sqljob").model).generate_embedding(
            ["pencil"]
        )[0]
        got = sess.spark.sql(out).head()["v"]
        assert [float(x).hex() for x in got] == [float(x).hex() for x in want]

    def test_sql_end_to_end(self, sess):
        """The proxy's flagship flow: embed-in-SQL over the job view."""
        sess.job_view("sqljob")
        rows = sess.sql(
            """
            SELECT product_id, product_name,
                   dot_sim(embeddings,
                           vectorize.embed('wooden pencil with eraser',
                                           'sqljob')) AS score
            FROM sqljob_view
            ORDER BY score DESC, product_id
            LIMIT 3
            """
        ).collect()
        assert rows[0]["product_name"] == "Pencil"
        assert rows[0]["score"] > rows[-1]["score"]

    def test_sql_without_embed_passthrough(self, sess):
        assert sess.sql("SELECT 1 AS x").head()["x"] == 1
