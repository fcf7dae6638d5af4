"""Incremental corpus pipeline (plans/corpus_pipeline.incremental_batch_stages):
the steady-state production shape — yesterday's corpus indexed once,
today's batch funneled against the indexes — must produce EXACTLY the
documents a full re-run over (corpus UNION batch) would keep from the
batch, and must not disturb the corpus-side survivor set (round-5
verdict item 7)."""

from __future__ import annotations

from pyspark.sql import Row

from xhs_ocr_spark.plans.corpus_pipeline import (
    EVAL_MOD,
    corpus_stages,
    funnel_probe_indexes,
    incremental_batch_stages,
)


# Every document is a fully DISTINCT long sentence (passes the gates:
# >=10 tokens, healthy stopword ratio, sane word lengths). Distinctness
# matters more than it looks: an earlier version built all docs from one
# shared boilerplate template, and paragraph dedup then gutted the
# corpus docs AGAINST EACH OTHER — the band index was built over the
# gutted rebuilds and none of the planted near-dup probes fired
# (probe-path assertions below would pass vacuously while testing
# nothing). Verified: zero repeated 4-word chunks across distinct docs.


def _mk(spark, rows: dict[str, str]):
    return spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in sorted(rows.items())]
    )


def _ids(df) -> set[str]:
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def _texts(df) -> dict[str, str]:
    return {r["doc_id"]: r["text"] for r in df.select("doc_id", "text").collect()}


def planted_corpus_and_batch():
    """(corpus, batch) dicts shared by the batch-parity and streaming
    tests — see the collision-matrix comments inline."""
    # the eval stand-in doc is LONG on purpose: the contamination plant
    # (109) must clear the 50% shingle-hit gate while staying below LSH
    # band sensitivity vs this very doc (it is in the corpus band index)
    # — jaccard = hits/(|ev|+|doc|-hits) shrinks with |ev| at a fixed
    # hit ratio. Probed: 15 copied + 11 fresh words on an 89-word eval
    # doc = hit ratio 520/1000 with 0 shared bands.
    eval_doc = (
        "owls hunt at night across the open field near the barn and the "
        "farmer leaves the lamp burning by the gate so the late wagons "
        "find their way home while frost gathers on the fence rails and "
        "the dog sleeps curled beside the kitchen stove dreaming of "
        "summer rabbits in the tall grass near the creek where the "
        "willows lean low over the cool water and the stones hold the "
        "last warmth of the afternoon sun long after the light has "
        "faded from the western sky behind the hills"
    )
    near_src = (
        "the river bends east past the silver mill and the miller waits "
        "for the grain carts that arrive each morning from the low farms "
        "beyond the ridge while children watch the great wheel turn "
        "slowly in the current"
    )
    near_src2 = (
        "a hawk circles high above the quiet valley floor today while "
        "the farmer walks the long furrow rows checking the young green "
        "shoots that rise in neat lines toward the far fence and the "
        "cedar windbreak"
    )
    corpus = {
        "010": (
            "the harbor lights flicker over calm water while fishermen "
            "mend their nets and gulls wheel above the quiet pier waiting "
            "for the morning catch to arrive from the cold northern banks"
        ),
        "011": eval_doc,  # 11 % 11 == 0 -> stands in for the eval set
        "012": (
            "a crimson kite drifts over the market square where traders "
            "call out prices for silk and spice while children chase "
            "hoops between the stalls in the warm afternoon light"
        ),
        "013": near_src,
        "014": near_src2,
        "015": (
            "deep in the ivory tower the old scholar reads by candlelight "
            "and copies each faded page into his careful ledger before "
            "the bells ring for the evening meal"
        ),
    }
    b_para_copy = (
        " ".join(corpus["012"].split()[:4])  # one aligned 4-word para from C
        + " fresh words follow here with plenty of new and useful content to keep"
    )
    # near-dup plants are PREFIX-SHIFTED copies: an aligned copy's 4-word
    # paragraphs are identical to the corpus doc's, so paragraph dedup
    # deletes them before LSH ever sees the doc (measured — the first
    # version of this test planted aligned copies and the band probe
    # never fired). Each plant gets a DIFFERENT prefix length, because
    # two shifted copies of the SAME source at the same offset share
    # chunks and within-batch paragraph dedup guts the later one (also
    # measured). Shingles are position-free, so the shifted texts still
    # collide: 104-corpus 4 bands, 105-corpus 1, 106-105 2, 106-corpus 0
    # — the genuinely transitive case; 107-108 1 band.
    b_near_chain_far = "so truly very " + (
        near_src2.replace("hawk", "kite")
        .replace("quiet", "calm")
        .replace("farmer", "rancher")
        .replace("cedar", "pine")
    )
    jade = (
        "a jade lantern glows softly in the tea house while travelers "
        "rest their horses and trade quiet stories about the mountain "
        "road and the snow that closed the high pass"
    )
    ships = (
        "completely unrelated musing about tall ships and wide seas "
        "fills the teal notebook while the captain charts a course past "
        "the reef and the lighthouse keeper waves from the rocks"
    )
    batch = {
        "100": corpus["010"],  # exact dup of corpus doc -> dropped
        "101": jade,  # exact dup within batch: first id wins
        "102": jade,
        "103": b_para_copy,  # para deduped against corpus, doc survives
        "104": "indeed " + near_src,  # near-dup of corpus
        "105": "truly very " + near_src2.replace("hawk", "kite"),  # near corpus AND near 106
        "106": b_near_chain_far,  # near 105 only -> dropped transitively
        "107": ships,  # batch-only near pair: representative survives
        "108": "again " + ships.replace("captain", "skipper"),
        # contaminated vs the eval set (15 eval words + 11 fresh, shifted
        # so paragraph dedup keeps it and LSH doesn't pair it)
        "109": "indeed "
        + " ".join(
            eval_doc.split()[:15]
            + (
                "meanwhile a traveling tinker mends copper pots beside the "
                "crossroads and hums"
            ).split()
        ),
        "112": (
            "a brand new umber document with entirely original phrasing "
            "throughout that owes nothing to any other text in this tiny "
            "synthetic corpus and sails through every gate"
        ),
        "111": "zz",  # fails the quality gate
    }

    return corpus, batch


def test_incremental_matches_full_rerun(spark):
    corpus, batch = planted_corpus_and_batch()
    c_df = _mk(spark, corpus)
    b_df = _mk(spark, batch)
    both = {**corpus, **batch}
    u_df = _mk(spark, both)
    # the fixed external benchmark stand-in: every EVAL_MOD-th doc of
    # corpus ∪ batch, the set the full re-run derives for itself
    eval_df = _mk(
        spark, {k: v for k, v in both.items() if int(k) % EVAL_MOD == 0}
    )

    inc = incremental_batch_stages(
        b_df, funnel_probe_indexes(corpus_stages(c_df)), eval_df
    )
    full = corpus_stages(u_df)
    c_only = corpus_stages(c_df)

    bids = set(batch)
    for name in (
        "quality_gate",
        "repetition_gate",
        "exact_dedup",
        "neardup_dedup",
        "decontam",
        "stratified_sample",
    ):
        got = _ids(inc[name])
        want = _ids(full[name]) & bids
        assert got == want, f"{name}: {got ^ want}"

    # paragraph stage: the rebuilt TEXTS must match, not just the ids
    got_t = _texts(inc["paragraph_dedup"])
    want_t = {k: v for k, v in _texts(full["paragraph_dedup"]).items() if k in bids}
    assert got_t == want_t

    # corpus-side stability: the full re-run keeps exactly the corpus
    # survivors the corpus-only run kept (the batch cannot retroactively
    # evict corpus documents)
    for name in ("exact_dedup", "paragraph_dedup", "neardup_dedup", "decontam"):
        assert _ids(full[name]) - bids == _ids(c_only[name]), name

    # planted outcomes actually exercised the probe paths
    dec = _ids(inc["decontam"])
    assert "100" not in _ids(inc["exact_dedup"])  # corpus fp probe fired
    assert "101" in _ids(inc["exact_dedup"]) and "102" not in _ids(
        inc["exact_dedup"]
    )
    assert "103" in got_t and corpus["012"].split()[0:4] != got_t["103"].split()[0:4]
    assert "104" not in _ids(inc["neardup_dedup"])  # band probe fired
    assert "105" not in _ids(inc["neardup_dedup"])
    assert "106" not in _ids(inc["neardup_dedup"])  # transitive via 105
    # batch-only pair: representative survives, the other is dropped
    assert "107" in _ids(inc["neardup_dedup"])
    assert "108" not in _ids(inc["neardup_dedup"])
    # 109 must reach decontam (not die earlier) and be dropped THERE
    assert "109" in _ids(inc["neardup_dedup"])
    assert "109" not in dec  # decontam fired
    assert "112" in dec
    assert "111" not in _ids(inc["quality_gate"])
    # the corpus indexes were built over INTACT corpus texts (distinct
    # docs -> corpus-side paragraph dedup drops nothing); if this breaks,
    # the probe assertions above go vacuous
    assert _texts(c_only["paragraph_dedup"]) == corpus
