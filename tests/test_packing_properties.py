"""Hypothesis fuzz of the packing layout: for ANY corpus (random
texts including empty/whitespace docs, random window size and shard
count), the layout invariants hold — gapless streams, correct window
arithmetic."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from redis_lsm_timeseries_spark.operators.packing import pack_documents

_word = st.text(
    alphabet=st.sampled_from("abcxyz019"), min_size=1, max_size=6
)
_text = st.one_of(
    st.just(""),
    st.just("   "),
    st.lists(_word, min_size=1, max_size=30).map(" ".join),
    # irregular whitespace between words
    st.lists(_word, min_size=1, max_size=10).map("  \t ".join),
)
_doc = st.tuples(st.integers(0, 10_000), _text, st.sampled_from("pq"))


class TestPackingProperties:
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(_doc, min_size=1, max_size=25, unique_by=lambda r: r[0]),
        window=st.integers(1, 40),
        shards=st.integers(1, 4),
    )
    def test_layout_invariants(self, spark, rows, window, shards):
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        packed = pack_documents(
            df, window_tokens=window, num_shards=shards
        ).collect()

        # reconstruct each stream driver-side and check every doc's
        # placement against first-principles arithmetic
        streams: dict[tuple, list] = {}
        toks = {
            r[0]: [t for t in r[1].lower().split() if t] for r in rows
        }
        for p in sorted(packed, key=lambda r: (r.source, r.shard, r.doc_id)):
            streams.setdefault((p.source, p.shard), []).append(p)
        for stream in streams.values():
            offset = 0
            for p in stream:
                assert p.n_tokens == len(toks[p.doc_id])
                assert p.token_start == offset
                assert p.pack_id == p.token_start // window
                span = max(p.n_tokens, 1)
                assert p.pack_id_end == (p.token_start + span - 1) // window
                assert p.crosses_boundary == (p.pack_id_end > p.pack_id)
                offset += p.n_tokens
