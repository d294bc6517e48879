"""``vectorize.embed(...)`` SQL rewriting — the wire-proxy feature (F7).

The reference ships a Postgres wire-protocol proxy that intercepts SQL,
finds ``vectorize.embed('query text', 'job_name')`` calls, computes the
embedding, and splices a ``'[v1, v2, ...]'::vector`` literal back into the
statement before Postgres plans it (proxy/src/embeddings.rs:66-182,
proxy/src/message_parser.rs:124-268).

Spark analog: a regex pre-pass over SQL strings submitted to
``VectorizeSession.sql``. ``vectorize.embed('q', 'job')`` becomes a Spark
``array<double>`` literal (``sqltext.vector``), so the full expression power
of Spark SQL composes with query-time embeddings:

    SELECT doc_id FROM docs_view
    ORDER BY cosine_sim(embeddings, vectorize.embed('what is spark?', 'docs'))

Parse rules mirrored from the proxy:
- two single-quoted arguments (query, job), optional whitespace;
- quote escaping via doubled quotes inside the literal;
- the function name match is case-insensitive and schema-qualified
  (``vectorize.embed``); unbalanced/missing args raise.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pg_vectorize_spark import sqltext as sq
from pg_vectorize_spark.errors import VectorizeError

if TYPE_CHECKING:  # pragma: no cover
    from pg_vectorize_spark.engine import VectorizeSession

# two '...'-quoted args with '' as the escape, mirroring the proxy's parser
_EMBED_CALL_RE = re.compile(
    r"vectorize\.embed\s*\(\s*"
    r"'((?:[^']|'')*)'\s*,\s*"
    r"'((?:[^']|'')*)'\s*\)",
    re.IGNORECASE,
)


def find_embed_calls(sql: str) -> list[tuple[str, str, str]]:
    """Return [(full_match, query_text, job_name)] with quotes unescaped."""
    out = []
    for m in _EMBED_CALL_RE.finditer(sql):
        query = m.group(1).replace("''", "'")
        job = m.group(2).replace("''", "'")
        out.append((m.group(0), query, job))
    return out


def rewrite_embed_calls(sql: str, session: "VectorizeSession") -> str:
    """Replace every vectorize.embed('q','job') with a vector literal.

    Embeddings are resolved BEFORE planning (same ordering as the proxy:
    rewrite happens before Postgres ever sees the statement) using each
    job's model from the catalog.
    """
    def _sub(m: re.Match[str]) -> str:
        query = m.group(1).replace("''", "'")
        job_name = m.group(2).replace("''", "'")
        job = session.catalog.get(job_name)
        from pg_vectorize_spark.providers.registry import get_provider

        provider = get_provider(
            job.model, api_key=session._resolve_api_key(job, None)
        )
        vec = provider.generate_embedding([query])[0]
        return sq.vector(vec)

    rewritten = _EMBED_CALL_RE.sub(_sub, sql)
    if re.search(r"vectorize\.embed", rewritten, re.IGNORECASE):
        raise VectorizeError(
            "unparseable vectorize.embed(...) call — expected "
            "vectorize.embed('query', 'job') with single-quoted literals"
        )
    return rewritten
