"""CLI end-to-end: index → quantify over parquet fixtures, through the
real command surface (SURVEY.md §3 entry points 1–2)."""

import glob

from rnadam_spark import cli
from rnadam_spark.algorithms import generators as gen
from rnadam_spark.schemas import GENOME, READS, TRANSCRIPTS

T_LEN = [400, 300, 350]


def _write_fixtures(spark, tmp_path, abundances, n_reads=4000, seed_t=77, seed_r=88):
    """Generate transcripts laid end-to-end on one contig + reads drawn
    with the given abundances; write genome/genes/reads parquet."""
    seqs, names, _, _ = gen.generate_independent_transcripts(15, T_LEN, seed=seed_t)
    genome_seq = "".join(seqs)
    offsets = []
    pos = 0
    for s in seqs:
        offsets.append(pos)
        pos += len(s)

    genome_df = spark.createDataFrame([("chr1", genome_seq)], GENOME)
    transcripts_df = spark.createDataFrame(
        [
            (
                names[i],
                "g1",
                True,
                # hull [start, end) must address exactly the transcript
                # slice; width−1 length rule needs end = start + len + 1
                [(names[i] + "e", "chr1", offsets[i], offsets[i] + len(seqs[i]))],
            )
            for i in range(len(seqs))
        ],
        TRANSCRIPTS,
    )
    reads = gen.generate_reads(seqs, abundances, n_reads, 50, seed=seed_r)
    reads_df = spark.createDataFrame(list(enumerate(reads)), READS)

    paths = {n: str(tmp_path / f"{n}.parquet") for n in ("genome", "genes", "reads")}
    genome_df.write.parquet(paths["genome"])
    transcripts_df.write.parquet(paths["genes"])
    reads_df.write.parquet(paths["reads"])
    return names, paths


def _read_result(out):
    lines = []
    for f in glob.glob(out + "/part-*"):
        with open(f) as fh:
            lines.extend(line.strip() for line in fh if line.strip())
    got = {}
    for line in lines:
        t_id, ab = line.split(", ")
        got[t_id] = float(ab)
    return got


def test_cli_index_then_quantify(spark, tmp_path):
    abundances = [0.5, 0.3, 0.2]
    names, paths = _write_fixtures(spark, tmp_path, abundances)

    index_prefix = str(tmp_path / "index")
    cli.main(["index", paths["genome"], paths["genes"], "15", index_prefix])
    assert glob.glob(index_prefix + "_kmers/*.parquet")
    assert glob.glob(index_prefix + "_classes/*.parquet")

    # nested ClassContents edge output matches the declared Avro IDL
    # shape (rice.avdl:23-31): (class_id, sorted array<string> kmers)
    contents = spark.read.parquet(index_prefix + "_contents")
    assert [(f.name, f.dataType.simpleString()) for f in contents.schema.fields] == [
        ("class_id", "string"),
        ("kmers", "array<string>"),
    ]
    sample = contents.limit(5).collect()
    assert sample and all(r.kmers == sorted(r.kmers) for r in sample)

    out = str(tmp_path / "result")
    cli.main(
        [
            "quantify", paths["reads"], index_prefix, paths["genes"], "15", out,
            "-max_iterations", "15",
            "-disable_kmer_calibration", "-disable_length_calibration",
        ]
    )
    got = _read_result(out)
    assert len(got) == 3
    # width−1 length rule makes t_len = len−1 (the reference's own e2e
    # setup has the same off-by-one, QuantifySuite.scala:400-407)
    for i, expected in enumerate(abundances):
        assert abs(got[names[i]] - expected) <= 0.05, (got, expected)


def _capture_parquet_writes(monkeypatch, *sources):
    """Record (path, scans of each of ``sources``) for every parquet
    write the CLI makes."""
    from pyspark.sql.readwriter import DataFrameWriter

    from rnadam_spark.plans import count_parquet_scans

    writes = []
    parquet = DataFrameWriter.parquet

    def capturing(self, path, *args, **kwargs):
        writes.append((path, [count_parquet_scans(self._df, src) for src in sources]))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capturing)
    return writes


def test_cli_index_writes_read_the_stored_table(spark, tmp_path, monkeypatch):
    # build_index stores its (t_id, kmer, class_id) table once: none of
    # the four index outputs re-runs the genome extraction
    _, paths = _write_fixtures(spark, tmp_path, [0.5, 0.3, 0.2])
    writes = _capture_parquet_writes(monkeypatch, paths["genome"], paths["genes"])
    index_prefix = str(tmp_path / "index")
    cli.main(["index", paths["genome"], paths["genes"], "15", index_prefix])
    assert sorted(p.removeprefix(index_prefix) for p, _ in writes) == [
        "_classes", "_contents", "_kmers", "_members"
    ]
    assert all(scans == [0, 0] for _, scans in writes), writes


def test_cli_full_calibration_pipeline(spark, tmp_path):
    # The reference's DEFAULT quantify runs with BOTH calibrations ON
    # (cli/Quantify.scala:57-65); this is the P6+M1 ∘ P7+M2 composition
    # no unit test exercises. Reads ∝ length (pure length bias,
    # QuantifySuite.scala:589-630): with calibration the pipeline must
    # recover ~uniform abundances.
    total = sum(T_LEN)
    biased = [x / total for x in T_LEN]
    names, paths = _write_fixtures(spark, tmp_path, biased)

    index_prefix = str(tmp_path / "index")
    cli.main(["index", paths["genome"], paths["genes"], "15", index_prefix])

    out = str(tmp_path / "result")
    # no -disable_* flags: the reference's default configuration
    cli.main(
        [
            "quantify", paths["reads"], index_prefix, paths["genes"], "15", out,
            "-max_iterations", "15",
        ]
    )
    got = _read_result(out)
    assert len(got) == 3
    for name in names:
        assert abs(got[name] - 1.0 / 3) <= 0.05, got


def test_cli_curate_end_to_end(spark, sf_dir, tmp_path):
    # the curation command over the real documents table: PII scrub +
    # quality cut + exact-dedup canonicals + chunking, sharded by lang
    import os

    out = str(tmp_path / "curated_cli")
    cli.main(
        [
            "curate",
            os.path.join(sf_dir, "documents.parquet"),
            out,
            "-quality_min", "0.9",
            "-chunk_chars", "512",
            "-chunk_overlap", "64",
        ]
    )
    back = spark.read.parquet(out)
    assert back.count() > 0
    cols = set(back.columns)
    assert {"doc_id", "chunk_idx", "text", "quality", "n_dups", "lang"} <= cols
    from pyspark.sql import functions as F

    assert back.agg(F.min("quality")).collect()[0][0] >= 0.9
    assert back.agg(F.max(F.length("text"))).collect()[0][0] <= 512
    # Hive layout on lang
    assert any(d.startswith("lang=") for d in os.listdir(out))

    # without chunking: surviving documents are exactly deduped — no
    # two rows share identical scrubbed text
    out2 = str(tmp_path / "curated_cli_nochunk")
    cli.main(
        [
            "curate",
            os.path.join(sf_dir, "documents.parquet"),
            out2,
            "-quality_min", "0.9",
        ]
    )
    flat = spark.read.parquet(out2)
    assert flat.count() == flat.dropDuplicates(["text"]).count()
    assert flat.count() > 0


def test_cli_curate_normalize_line_dedup_repetition(spark, tmp_path):
    # synthetic multiline corpus: whitespace variants collide after
    # normalization, shared boilerplate lines drop, and a pathologically
    # repetitive doc is cut by the duplicated-5-gram threshold
    import os

    from pyspark.sql import functions as F

    body = "the quick brown fox jumps over the lazy dog and keeps going"
    spam = " ".join(["spam ham eggs toast beans"] * 12)
    rows = [
        (1, "shared boilerplate header\n" + body, "en", "s0"),
        (2, "shared boilerplate header\n" + body + " again today", "en", "s0"),
        (3, body + "  \r\n", "en", "s1"),          # whitespace variant of 4
        (4, body, "en", "s1"),                      # collides with 3 post-normalize
        (5, spam, "en", "s1"),                      # repetition casualty
    ]
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"]).write.parquet(src)

    out = str(tmp_path / "curated_rep")
    cli.main(
        [
            "curate", src, out,
            "-quality_min", "-10",  # keep everything quality-wise
            "-dedup_lines",
            "-max_dup_5gram", "0.5",
        ]
    )
    back = spark.read.parquet(out)
    got = {r.doc_id: r for r in back.collect()}
    # 3 and 4 normalized to identical text -> one canonical survives
    assert len({3, 4} & set(got)) == 1
    # the spam doc fails the duplicated-5-gram threshold
    assert 5 not in got
    # the boilerplate line survives only at its first occurrence (doc 1)
    texts = {d: r.text for d, r in got.items()}
    assert sum("shared boilerplate header" in t for t in texts.values()) == 1
    assert "shared boilerplate header" in texts[1]
    assert back.count() == back.dropDuplicates(["text"]).count()
    assert any(d.startswith("lang=") for d in os.listdir(out))


def test_cli_curate_model_stages(spark, tmp_path):
    # perplexity filter (self-trained LM), classifier filter (weights
    # parquet), and mixture resampling, through the command surface
    import os

    from pyspark.sql import functions as F

    from rnadam_spark.operators import lm

    fluent = "the cat sat on the mat and the dog sat on the log near the door"
    rows = (
        [(i, fluent + f" variant {i}", "en", "books") for i in range(20)]
        + [(100 + i, fluent + f" copy {i}", "en", "web") for i in range(60)]
        + [(200, "zqxj vvkw qqzz xjvw kkqz", "en", "web")]  # gibberish
        + [(201, fluent + " but spam spam spam", "en", "web")]
    )
    src = str(tmp_path / "docs_model_in")
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"]).write.parquet(src)

    wdf = spark.createDataFrame([("spam", -5.0)], ["tok", "weight"]).select(
        lm.feature_bucket(F.col("tok")).alias("bucket"), "weight"
    )
    wpath = str(tmp_path / "weights_pq")
    wdf.write.parquet(wpath)

    out = str(tmp_path / "curated_model")
    cli.main(
        [
            "curate", src, out,
            "-quality_min", "-10",
            "-max_perplexity", "50",
            "-lm_sample_frac", "1.0",
            "-classifier_weights", wpath,
            "-classifier_intercept", "1.0",
            "-classifier_min", "0.5",
            "-mixture_alpha", "0.5",
        ]
    )
    back = spark.read.parquet(out)
    got = {r.doc_id: r for r in back.collect()}
    assert 200 not in got  # gibberish: perplexity casualty
    assert 201 not in got  # spam: classifier margin 1.0 - 3*5 << 0
    assert len(got) > 0
    # mixture alpha<1 upweights the small 'books' group: it keeps all
    # docs while the big 'web' group sheds some
    n_books = sum(1 for r in got.values() if r.source == "books")
    n_web = sum(1 for r in got.values() if r.source == "web")
    assert n_books == 20
    assert n_web < 60


def test_cli_profile(spark, sf_dir, capsys):
    import json
    import os

    cli.main(["profile", os.path.join(sf_dir, "documents.parquet")])
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    report = json.loads(line)
    assert report["n_docs"] == 500
    assert report["total_tokens"] > 0 and report["total_chars"] > 0
    q = report["tokens_per_doc_p50_p90_p99"]
    assert len(q) == 3 and q[0] <= q[1] <= q[2]
    assert 0.0 <= report["approx_exact_dup_rate"] < 1.0
    assert {m["lang"] for m in report["mix"]} >= {"en"}
    assert sum(m["n_docs"] for m in report["mix"]) == 500


def test_cli_curate_c4_and_shards(spark, tmp_path):
    import json
    import os

    from pyspark.sql import functions as F

    rows = [
        # survives C4 (3 qualifying lines) — low punct/digits so the
        # default quality cut also passes
        (i, "This is a perfectly normal first sentence here.\n"
            "Here is another equally normal second sentence!\n"
            "And the third normal sentence completes the page.",
         "en", "web", 120)
        for i in range(20)
    ] + [
        (100, "code page { return 1; }\nwith brace content on it.\nthird line here.",
         "en", "web", 60),
        (101, "Please enable javascript to continue to this site.\nshort.\nalso short.",
         "en", "web", 60),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)

    out = str(tmp_path / "sharded")
    cli.main(["curate", src, out, "-quality_min", "0.0", "-c4", "-shards", "3"])
    back = spark.read.parquet(out)
    ids = {r.doc_id for r in back.select("doc_id").collect()}
    assert 100 not in ids and 101 not in ids  # brace page + too-few-lines page dropped
    # the 20 clean pages dedup to one canonical (identical text)
    assert back.count() == 1
    assert os.path.exists(os.path.join(out, "_manifest.json"))
    man = json.loads(open(os.path.join(out, "_manifest.json")).read())
    assert man["n_shards"] == 3 and man["total_rows"] == 1
    assert any(d.startswith("shard=") for d in os.listdir(out))
    # C4 line filter removed the no-terminal-punct lines
    txt = back.select("text").collect()[0][0]
    assert "javascript" not in txt.lower()


def test_cli_profile_funnel(spark, sf_dir, capsys):
    import json
    import os

    cli.main([
        "profile", os.path.join(sf_dir, "documents.parquet"),
        "-funnel", "-quality_min", "0.9",
    ])
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    report = json.loads(line)
    funnel = {f["stage"]: f for f in report["funnel"]}
    assert funnel["input"]["n_remaining"] == report["n_docs"]
    from rnadam_spark.operators.funnel import FUNNEL_STAGES

    assert set(funnel) == {"input", *FUNNEL_STAGES}
    # monotone: remaining never increases, drops sum to input - final
    stages = ["input", *FUNNEL_STAGES]
    rem = [funnel[s]["n_remaining"] for s in stages]
    assert all(a >= b for a, b in zip(rem, rem[1:]))
    assert sum(funnel[s]["n_dropped"] for s in stages) == report["n_docs"] - rem[-1]


def test_cli_curate_near_dedup_and_decontaminate(spark, tmp_path):
    base = ("The quick brown fox jumps over the lazy dog near the river bank today. "
            "It was a sunny afternoon and everyone enjoyed the warm weather outside. "
            "Children played games while adults talked about their plans for the week.")
    near = base.replace("sunny", "rainy")  # near-duplicate, not exact
    eval_text = ("Benchmark question text with exactly this long and unusual phrasing "
                 "that should never appear in training data under any circumstances at all, "
                 "because that is precisely what decontamination removes from corpora.")
    contaminated = "Prefix words. " + eval_text + " Suffix words."
    distinct = ("Entirely different content about cooking pasta with fresh tomatoes "
                "and basil from the garden, simmered slowly in olive oil for an hour "
                "until the sauce thickens into something worth the patient wait.")
    rows = [
        (1, base, "en", "web", len(base)),
        (2, near, "en", "web", len(near)),
        (3, contaminated, "en", "web", len(contaminated)),
        (4, distinct, "en", "web", len(distinct)),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [(100, eval_text, "en", "eval", len(eval_text))],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.parquet(bench)

    out = str(tmp_path / "out")
    cli.main([
        "curate", src, out,
        "-quality_min", "0.0", "-skip_normalize",
        "-near_dedup", "-near_jaccard_min", "0.5",
        "-decontaminate", bench, "-max_contamination", "0.05",
    ])
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert 1 in kept          # canonical of the near-dup pair
    assert 2 not in kept      # near-duplicate dropped
    assert 3 not in kept      # contaminated doc dropped
    assert 4 in kept          # distinct doc survives


def test_cli_curate_prefix_evaluated_once(spark, tmp_path, monkeypatch):
    """The text prefix (normalize → PII scrub → quality) runs once per
    document: every plan `curate -near_dedup` materializes or writes
    scans the input at most once, and no Filter carries a rewrite — a
    Filter over the staged projections is pushed below them with the
    regexp_replace chain substituted into its condition."""
    from rnadam_spark import lineage
    from rnadam_spark.plans import count_parquet_scans, filter_conditions
    from rnadam_spark.sources import sink

    base = ("The quick brown fox jumps over the lazy dog near the river bank today. "
            "It was a sunny afternoon and everyone enjoyed the warm weather outside. "
            "Children played games while adults talked about their plans for the week.")
    distinct = ("Entirely different content about cooking pasta with fresh tomatoes "
                "and basil from the garden. Write to chef@example.com for the recipe, "
                "simmered slowly in olive oil until the sauce thickens nicely.")
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base.replace(" ", "   ") + "  \r\n", "en", "web", len(base)),  # exact dup once normalized
        (3, distinct, "en", "web", len(distinct)),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)

    plans = []

    def capturing(fn):
        def wrapped(df, *args, **kwargs):
            plans.append((fn.__name__, count_parquet_scans(df, src), filter_conditions(df)))
            return fn(df, *args, **kwargs)

        return wrapped

    monkeypatch.setattr(lineage, "truncate_lineage", capturing(lineage.truncate_lineage))
    monkeypatch.setattr(sink, "write_partitioned", capturing(sink.write_partitioned))
    out = str(tmp_path / "out")
    cli.main(["curate", src, out, "-near_dedup"])

    assert plans[0][0] == "truncate_lineage"
    assert plans[-1][0] == "write_partitioned"
    assert plans[0][1] == 1  # the scored corpus is read from the input once
    for name, n_scans, conditions in plans:
        assert n_scans <= 1, name
        assert not [c for c in conditions if "regexp_replace" in c], name
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 3}
    assert got[1].n_dups == 2
    assert got[3].n_redactions == 1 and "<EMAIL>" in got[3].text


def test_cli_dedup_index_and_ingest(spark, tmp_path):
    base = ("The quick brown fox jumps over the lazy dog near the river bank today "
            "while children played games and adults talked about their weekly plans.")
    rows = [(i, base + f" Extra sentence number {i} differs.", "en", "web", 150)
            for i in range(5)]
    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    store = str(tmp_path / "sigs")
    cli.main(["dedup-index", src, store])
    sigs = spark.read.parquet(store)
    assert sigs.count() == 5 and "h0" in sigs.columns

    # new shard: one near-copy of doc 0, one novel doc
    new_rows = [
        (100, base + " Extra sentence number 0 differs!", "en", "web", 150),
        (101, "Utterly unrelated content about gardening and the joy of fresh soil "
              "in springtime when everything begins to grow again after winter.", "en", "web", 120),
    ]
    new_src = str(tmp_path / "shard")
    spark.createDataFrame(
        new_rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(new_src)
    pairs_out = str(tmp_path / "pairs")
    cli.main(["ingest", new_src, store, pairs_out,
              "-est_threshold", "0.5", "-update_store"])
    pairs = spark.read.parquet(pairs_out).collect()
    assert any(r.new_id == 100 and r.index_id == 0 for r in pairs)
    assert not any(r.new_id == 101 for r in pairs)
    # store grew by the shard's signatures
    assert spark.read.parquet(store).count() == 7


def test_cli_ingest_two_pass_bridge(spark, tmp_path):
    """The continuous-ingest recipe's load-bearing property: with
    -update_store, shard B dedups against shard A — not just against
    the last batch pass. B's near-copy targets a doc that exists ONLY
    in A, so the pair can only come from the store update."""
    base = ("Original corpus document about distributed query planning and "
            "shuffle-free aggregation over columnar storage at petabyte scale.")
    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(0, base, "en", "web", 140)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.parquet(src)
    store = str(tmp_path / "sigs")
    cli.main(["dedup-index", src, store])

    novel_a = ("Shard-A exclusive text describing watermark eviction in "
               "stateful stream processing and bounded checkpoint growth "
               "for long-running continuous ingestion pipelines today.")
    shard_a = str(tmp_path / "shard_a")
    spark.createDataFrame(
        [(200, novel_a, "en", "web", 150)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.parquet(shard_a)
    cli.main(["ingest", shard_a, store, str(tmp_path / "pairs_a"),
              "-est_threshold", "0.5", "-update_store"])
    assert spark.read.parquet(store).count() == 2  # corpus + shard A

    shard_b = str(tmp_path / "shard_b")
    spark.createDataFrame(
        [(300, novel_a + " Lightly edited!", "en", "web", 150)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.parquet(shard_b)
    pairs_b_out = str(tmp_path / "pairs_b")
    cli.main(["ingest", shard_b, store, pairs_b_out, "-est_threshold", "0.5"])
    pairs_b = spark.read.parquet(pairs_b_out).collect()
    # the cross-shard catch: B's dup resolves to A's doc id
    assert any(r.new_id == 300 and r.index_id == 200 for r in pairs_b)

    # the recipe is runnable from the help text alone
    import io
    import contextlib

    for cmd in ("dedup-index", "ingest"):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            try:
                cli.main([cmd, "--help"])
            except SystemExit:
                pass
        assert "per arriving shard" in buf.getvalue()


def test_cli_curate_pack_budget(spark, tmp_path):
    good = ("A first clean normal sentence right here today.\n"
            "A second clean normal sentence right here today!\n"
            "A third clean normal sentence right here today?")
    rows = [(i, good + f" Unique tail {i}.", "en", "web", 150) for i in range(6)]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    out = str(tmp_path / "packed")
    cli.main(["curate", src, out, "-quality_min", "0.0", "-pack_budget", "40"])
    back = spark.read.parquet(out)
    cols = set(back.columns)
    assert {"pack_group", "pack_id", "pack_offset", "text"} <= cols
    assert back.count() == 6
    # offsets live inside the budget
    from pyspark.sql import functions as F

    assert back.agg(F.max("pack_offset")).collect()[0][0] < 40


def test_cli_curate_bad_phrases_and_audit(spark, tmp_path, capsys):
    import json

    good = ("A first clean normal sentence right here today.\n"
            "A second clean normal sentence right here today!\n"
            "A third clean normal sentence right here today?")
    rows = [
        (1, good, "en", "web", len(good)),
        (2, good + " Contains a forbidden combination inside.", "en", "web", 200),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    bl = str(tmp_path / "phrases")
    spark.createDataFrame([("Forbidden Combination",)], ["phrase"]).write.parquet(bl)

    out = str(tmp_path / "out")
    cli.main([
        "curate", src, out, "-quality_min", "0.0",
        "-bad_phrases", bl, "-audit",
    ])
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == {1}
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    funnel = {f["stage"]: f for f in json.loads(line)["funnel"]}
    assert funnel["input"]["n_remaining"] == 2


def test_cli_ann_index_and_query(spark, tmp_path, capsys):
    import json
    import os
    import random

    rng = random.Random(9)
    means = [[16.0 * (b == i) for i in range(4)] for b in range(4)]
    rows = []
    for b, mean in enumerate(means):
        for i in range(20):
            rows.append((b * 1000 + i, [v + rng.uniform(-0.5, 0.5) for v in mean]))
    src = str(tmp_path / "emb")
    spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>").write.parquet(src)

    idx = str(tmp_path / "annidx")
    cli.main(["ann-index", src, idx, "-n_centroids", "4", "-m", "2",
              "-nbits", "2", "-iterations", "4", "-dim", "4"])
    assert os.path.exists(os.path.join(idx, "model.json"))
    assert any(d.startswith("cell=") for d in os.listdir(os.path.join(idx, "codes")))

    cli.main(["ann-query", idx, src, "0", "-k", "10", "-n_probe", "1", "-rerank"])
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    got = json.loads(line)
    ids = [r["vec_id"] for r in got["results"]]
    from rnadam_spark.operators import similarity

    exact = [r.vec_id for r in similarity.brute_force_topk(
        spark.read.parquet(src), 0, 10).collect()]
    # reranked IVFPQ over a clustered corpus recovers the exact top-10
    assert set(ids) == set(exact)
    # reranked scores are exact cosines, descending
    coss = [r["cos"] for r in got["results"]]
    assert coss == sorted(coss, reverse=True)


def test_cli_curate_span_dedup(spark, tmp_path):
    # an 8-token boilerplate passage shared by two otherwise-distinct
    # docs; -span_dedup 4 deletes it from both, keeps both docs
    boiler = "all rights reserved contact the site administrator promptly"
    a = "Fresh article about mountain hiking routes and gear. " + boiler
    b = boiler + " Completely different essay on baking sourdough bread well."
    c = "A clean document with no shared passages in it at all today."
    rows = [(1, a, "en", "web", len(a)), (2, b, "en", "web", len(b)),
            (3, c, "en", "web", len(c))]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    cli.main(["curate", src, out, "-quality_min", "0.0", "-span_dedup", "4"])
    got = {r.doc_id: r.text for r in spark.read.parquet(out).select("doc_id", "text").collect()}
    assert set(got) == {1, 2, 3}
    assert "rights reserved" not in got[1] and "rights reserved" not in got[2]
    assert "mountain hiking" in got[1] and "sourdough" in got[2]


def test_cli_curate_gopher(spark, tmp_path):
    good = ("The dataset pipeline needs to be clean and it must have documents "
            "that read like prose with normal words of sensible length so the "
            "filters keep them here today. ") * 3
    bullets = "\n".join("• item " + str(i) for i in range(10))
    rows = [(1, good, "en", "web", len(good)), (2, bullets, "en", "web", len(bullets))]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    cli.main(["curate", src, out, "-quality_min", "0.0", "-gopher"])
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == {1}


def test_cli_diff(spark, tmp_path, capsys):
    import json
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    spark.createDataFrame(
        [(1, "a", "en", "w", 1), (2, "b", "en", "w", 1)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.parquet(old)
    spark.createDataFrame(
        [(2, "b CHANGED", "en", "w", 9), (3, "c", "en", "w", 1)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.parquet(new)
    out = str(tmp_path / "delta")
    cli.main(["diff", old, new, "-changed_out", out])
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    assert json.loads(line) == {"added": 1, "removed": 1, "changed": 1, "unchanged": 0}
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {2, 3}


def test_cli_search(spark, tmp_path, capsys):
    import json
    rows = [
        (1, "the solar telescope observed a distant comet in the night sky", "en", "w", 1),
        (2, "recipes for bread and pastry with butter and flour", "en", "w", 1),
        (3, "a telescope guide for amateur astronomy and comet watching", "en", "w", 1),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    cli.main(["search", src, "comet telescope", "-k", "2"])
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    got = json.loads(line)
    assert {r["doc_id"] for r in got["results"]} == {1, 3}


def test_cli_curate_decontaminate_excise(spark, tmp_path):
    eval_text = ("what is the tallest mountain on earth the answer is everest "
                 "measured from sea level to the summit")
    doc = ("A long article about mountains begins with context here. "
           + eval_text + " And then the article continues with original prose.")
    rows = [(1, doc, "en", "web", len(doc))]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [(9, eval_text, "en", "eval", len(eval_text))],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.parquet(bench)
    out = str(tmp_path / "out")
    cli.main([
        "curate", src, out, "-quality_min", "0.0", "-skip_normalize",
        "-decontaminate", bench, "-decontaminate_excise",
    ])
    got = {r.doc_id: r.text for r in spark.read.parquet(out).select("doc_id", "text").collect()}
    assert set(got) == {1}  # doc kept, not dropped
    assert "everest" not in got[1]
    assert "article about mountains" in got[1] and "original prose" in got[1]


def test_cli_curate_all_stages_compose(spark, tmp_path):
    # every text-pipeline stage enabled at once: normalize -> c4 ->
    # gopher -> PII scrub -> line dedup -> quality -> repetition ->
    # exact dedup -> near dedup -> span dedup -> decontaminate-excise ->
    # chunking. Interaction coverage: a rotation or schema change in any
    # stage that breaks composition fails here even when each stage's
    # own e2e test passes. Docs are built to PASS c4 (>= 3 kept lines,
    # >= 5 words each, terminal punctuation) and gopher (>= 50 words,
    # sane ratios); the shared passage sits INSIDE differing lines so
    # line dedup does not fire and span dedup is genuinely exercised.
    s1 = "The quick brown fox jumps over the lazy dog near the river bank every single day."
    s2 = "It was a sunny afternoon and everyone enjoyed the warm weather outside with friends."
    s3 = "Children played their games while adults talked about plans for the coming week."
    boiler = "all rights reserved contact the site administrator promptly today"
    eval_text = ("what is the tallest mountain on earth the answer is everest "
                 "measured from sea level to the summit")
    doc1 = "\n".join([
        s1, s2,
        "Alpha readers can write to a.person@example.com with notes because " + boiler + " indeed.",
        s3,
    ])
    doc2 = "\n".join([
        "A different essay begins with patient notes about baking bread daily at home.",
        "Beta readers should remember that " + boiler + " whenever the site goes down.",
        "The loaf is done when the kitchen smells right and the crust crackles softly.",
        "Patience and care turn simple flour and water into something worth the wait.",
    ])
    doc4 = "\n".join([
        "An article with leaked evaluation text follows right here and now for everyone.",
        "Quiz answer: " + eval_text + " as most people already know quite well.",
        "Then the article continues onward with entirely new words and original prose.",
        "Its closing line wraps the mountain discussion with a tidy final thought today.",
    ])
    rows = [
        (1, doc1, "en", "w", 1),
        (2, doc2, "en", "w", 1),
        (3, doc1, "en", "w", 1),  # exact dup of 1
        (4, doc4, "en", "w", 1),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [(9, eval_text, "en", "eval", len(eval_text))],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.parquet(bench)
    out = str(tmp_path / "out")
    cli.main([
        "curate", src, out,
        "-quality_min", "-10", "-c4", "-gopher", "-dedup_lines",
        "-max_dup_5gram", "0.9", "-near_dedup", "-span_dedup", "4",
        "-decontaminate", bench, "-decontaminate_excise",
        "-chunk_chars", "256", "-chunk_overlap", "32", "-audit",
    ])
    back = spark.read.parquet(out)
    got = {}
    for r in back.collect():
        got.setdefault(r.doc_id, []).append(r)
    assert set(got) and 3 not in got            # exact dup collapsed
    text_all = " ".join(r.text for rs in got.values() for r in rs)
    assert "a.person@example.com" not in text_all   # PII scrubbed
    assert "everest" not in text_all                # eval span excised
    assert "rights reserved" not in text_all        # shared span deduped
    assert "bread" in text_all                      # surrounding prose kept
    assert all(len(r.text) <= 256 for rs in got.values() for r in rs)


def test_cli_extract_html_dsir_split(spark, tmp_path):
    """The three ingestion-side commands compose: extract-html strips
    boilerplate into a documents table, dsir selects the target-matched
    fraction, split assigns leakage-safe train/val/test groups."""
    import json

    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [
            (i, "<nav><a href='/'>Home</a> <a href='/a'>A</a> <a href='/b'>B</a></nav>"
                f"<p>The quick brown fox number {i} jumps over the lazy dog in the "
                "field and the crowd is amazed at the sight.</p>")
            for i in range(1, 21)
        ]
        + [(99, "<div><a href='x'>x</a><a href='y'>y</a><a href='z'>z</a></div>")],
        ["doc_id", "html"],
    )
    pages_path = str(tmp_path / "pages.parquet")
    pages.write.parquet(pages_path)
    docs_path = str(tmp_path / "docs.parquet")
    cli.main(["extract-html", pages_path, docs_path, "-drop_empty"])
    docs = spark.read.parquet(docs_path)
    assert docs.count() == 20  # link-only page extracted empty and dropped
    assert docs.filter(F.col("text").contains("Home")).count() == 0
    assert docs.filter(F.col("text").contains("quick brown fox")).count() == 20

    # dsir: target = fox prose; raw = fox prose + spam -> spam ranks last
    raw = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(1, 9)]
        + [(100 + i, "buy cheap pills online now discount sale") for i in range(4)],
        ["doc_id", "text"],
    )
    tgt = spark.createDataFrame(
        [(i, "a quick brown fox jumps over a lazy dog") for i in range(3)],
        ["doc_id", "text"],
    )
    raw_path, tgt_path = str(tmp_path / "raw.parquet"), str(tmp_path / "tgt.parquet")
    raw.write.parquet(raw_path)
    tgt.write.parquet(tgt_path)
    sel_path = str(tmp_path / "selected.parquet")
    model_path = str(tmp_path / "dsir_model")
    cli.main(["dsir", raw_path, sel_path, "-target", tgt_path,
              "-fraction", "0.5", "-n_buckets", "256", "-save_model", model_path])
    sel = spark.read.parquet(sel_path)
    assert {"doc_id", "text", "n_features", "log_weight"} <= set(sel.columns)
    kept = {r.doc_id for r in sel.select("doc_id").collect()}
    assert len(kept) == 6
    assert sum(1 for d in kept if d >= 100) <= 1  # spam (≥100) mostly culled

    # incremental path: a new shard scores against the STORED
    # distributions (n_buckets comes from model.json, not the flag) and
    # reproduces the same weights the direct computation assigns
    sel2_path = str(tmp_path / "selected2.parquet")
    cli.main(["dsir", raw_path, sel2_path, "-model", model_path, "-fraction", "0.5"])
    again = {
        r.doc_id: (r.n_features, r.log_weight)
        for r in spark.read.parquet(sel2_path).collect()
    }
    direct = {
        r.doc_id: (r.n_features, r.log_weight)
        for r in sel.collect()
    }
    assert again == direct

    # split: duplicate docs must land in one split
    dup_docs = spark.createDataFrame(
        [(i, f"unique document number {i} with distinct content entirely") for i in range(1, 30)]
        + [(51, "the exact same duplicated text appears here verbatim today"),
           (52, "the exact same duplicated text appears here verbatim today")],
        ["doc_id", "text"],
    )
    dup_path = str(tmp_path / "dup.parquet")
    dup_docs.write.parquet(dup_path)
    split_path = str(tmp_path / "splits.parquet")
    cli.main(["split", dup_path, split_path, "-fractions", "train=0.8,val=0.1,test=0.1"])
    sp = spark.read.parquet(split_path)
    assert sp.count() == 31
    pair = {r.doc_id: (r.group_id, r.split) for r in sp.filter(F.col("doc_id") >= 51).collect()}
    assert pair[51] == pair[52]


def test_cli_dsir_save_model_writes_stored_counts(spark, tmp_path, monkeypatch):
    # -save_model writes the histograms the weights were computed from,
    # stored once: neither count table re-scans its corpus, and each
    # holds the corpus's bucket counts
    from rnadam_spark.operators.dsir import bucket_counts

    raw = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(1, 9)]
        + [(100 + i, "buy cheap pills online now discount sale") for i in range(4)],
        ["doc_id", "text"],
    )
    tgt = spark.createDataFrame(
        [(i, "a quick brown fox jumps over a lazy dog") for i in range(3)], ["doc_id", "text"]
    )
    raw_path, tgt_path = str(tmp_path / "raw.parquet"), str(tmp_path / "tgt.parquet")
    raw.write.parquet(raw_path)
    tgt.write.parquet(tgt_path)
    model_path = str(tmp_path / "dsir_model")
    writes = _capture_parquet_writes(monkeypatch, raw_path, tgt_path)
    cli.main(["dsir", raw_path, str(tmp_path / "selected.parquet"), "-target", tgt_path,
              "-fraction", "0.5", "-n_buckets", "256", "-save_model", model_path])
    scans = dict(writes)
    for name, corpus in (("target_counts", tgt), ("raw_counts", raw)):
        assert scans[f"{model_path}/{name}"] == [0, 0], name
        saved = sorted(spark.read.parquet(f"{model_path}/{name}").collect())
        assert saved == sorted(bucket_counts(corpus, 256).collect()), name


def test_cli_curate_excise_ppl_tail(spark, tmp_path):
    """CCNet-style paragraph tail excision through the real command:
    a fluent corpus with one gibberish paragraph spliced into one doc
    loses exactly that paragraph (and docs that were all-gibberish)."""
    import os

    from pyspark.sql import functions as F

    fluent = [
        (i, f"the cat sat on the mat number {i}\n\nthe dog sat on the log number {i}", "en", "s", 60)
        for i in range(1, 30)
    ]
    spliced = [(50, "the cat sat on the mat again\n\nzzqqxxjj wwkkvv qqppzz xxyyzz", "en", "s", 60)]
    all_bad = [(51, "qqq zzz xxx jjj\n\nvvv www kkk qqq", "en", "s", 32)]
    docs = spark.createDataFrame(
        fluent + spliced + all_bad, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "curated")
    cli.main([
        "curate", src, out,
        "-quality_min", "0.0",
        "-excise_ppl_tail", "0.05",
        "-lm_sample_frac", "1.0",
    ])
    back = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    # the spliced doc survives minus its gibberish paragraph
    assert 50 in back
    assert "cat sat on the mat again" in back[50]
    assert "zzqqxxjj" not in back[50]
    # fluent docs keep both paragraphs
    assert back[1].count("\n\n") == 1


def test_cli_split_with_precomputed_pairs(spark, tmp_path):
    # the -pairs path: skip LSH+verify entirely and honor an external
    # near-dup pair table (e.g. from ingest); Hive layout on split
    import os

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"doc number {i} body") for i in range(1, 11)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(2, 9), (9, 4)], ["doc_a", "doc_b"])
    dp, pp = str(tmp_path / "d.parquet"), str(tmp_path / "p.parquet")
    docs.write.parquet(dp)
    pairs.write.parquet(pp)
    out = str(tmp_path / "splits_out")
    cli.main(["split", dp, out, "-pairs", pp])
    back = spark.read.parquet(out)
    got = {r.doc_id: (r.group_id, r.split) for r in back.collect()}
    assert len(got) == 10
    # the chained cluster {2,4,9} stays whole under the external pairs
    assert got[2] == got[4] == got[9]
    assert got[2][0] == 2
    assert any(d.startswith("split=") for d in os.listdir(out))


def test_cli_mix_plan_and_sample(spark, tmp_path):
    import pytest

    from pyspark.sql import functions as F

    from rnadam_spark import cli

    rows = [
        (i, f"doc {i}", "web" if i % 4 != 3 else "books", 100 + (i % 5) * 10)
        for i in range(200)
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text", "source", "n_chars"]).write.parquet(src)

    plan_out = str(tmp_path / "plan.parquet")
    cli.main([
        "mix", src, plan_out,
        "-shares", "web=0.4,books=0.6", "-token_budget", "30000", "-plan_only",
    ])
    plan = {r.source: r for r in spark.read.parquet(plan_out).collect()}
    assert plan["books"].rate > 1.0  # tiny source upsamples
    assert 0 < plan["web"].rate < 1.0

    out = str(tmp_path / "mixed.parquet")
    cli.main(["mix", src, out, "-shares", "web=0.4,books=0.6", "-token_budget", "30000"])
    mixed = spark.read.parquet(out)
    realized = {
        r.source: r.t
        for r in mixed.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()
    }
    assert realized["web"] == pytest.approx(12_000, rel=0.2)
    assert realized["books"] == pytest.approx(18_000, rel=0.2)
    assert mixed.filter((F.col("source") == "books") & (F.col("n_copy") > 0)).count() > 0


def test_cli_curate_blocklist_and_cap(spark, tmp_path, capsys):
    import json

    good = ("A first clean normal sentence right here today.\n"
            "A second clean normal sentence right here today!\n"
            "A third clean normal sentence right here today?")
    rows = []
    # domain A: 5 clean docs; domain B: 2 docs, one mentioning a
    # blocklisted subdomain
    for i in range(5):
        t = good + f" Distinct tail number {i} keeps dedup away."
        rows.append((i, t, "en", "a.example", len(t)))
    rows.append((10, good + " see https://cdn.bad.site/x now.", "en", "b.example", 300))
    rows.append((11, good + " Another unique ending sentence.", "en", "b.example", 300))
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    blpath = str(tmp_path / "blocklist.txt")
    with open(blpath, "w") as f:
        f.write("# comment line\nbad.site\n\nother.example\n")

    out = str(tmp_path / "out")
    cli.main([
        "curate", src, out, "-quality_min", "0.0",
        "-blocklist", blpath, "-cap_per_domain", "3", "-audit",
    ])
    kept = spark.read.parquet(out).select("doc_id", "source").collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    # doc 10 fell to the blocklist (cdn.bad.site is under bad.site);
    # domain a capped from 5 to 3; domain b keeps its one survivor
    assert len(by_src["a.example"]) == 3
    assert by_src["b.example"] == {11}
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    funnel = {f["stage"]: f for f in json.loads(line)["funnel"]}
    assert funnel["input"]["n_remaining"] == 7
    assert funnel["blocklist"]["n_dropped"] == 1


def test_cli_profile_skew_block(spark, tmp_path, capsys):
    import json

    rows = [(i, f"word text {i}", "en", "hot" if i < 80 else f"s{i % 5}", 20)
            for i in range(100)]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    cli.main(["profile", src, "-skew_by", "source"])
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    rep = json.loads(line)
    assert rep["skew"]["top"][0]["key"] == {"source": "hot"}
    assert rep["skew"]["top"][0]["n"] == 80


def test_cli_curate_nfkc(spark, tmp_path):
    # fullwidth/ligature variants of the same sentence must collide in
    # exact dedup once -nfkc is on
    base = ("A first clean normal sentence right here today.\n"
            "A second clean normal sentence right here today!")
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base.replace("A first", "Ａ ﬁrst"), "en", "s", 200),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    cli.main(["curate", src, out, "-quality_min", "0.0", "-nfkc"])
    kept = spark.read.parquet(out).collect()
    # NFKC folds Ａ->A and ﬁ->fi, so the two variants dedup to one
    assert len(kept) == 1
    out2 = str(tmp_path / "out2")
    cli.main(["curate", src, out2, "-quality_min", "0.0"])
    assert len(spark.read.parquet(out2).collect()) == 2


def test_cli_curate_para_near_dedup(spark, tmp_path):
    banner = ("This website uses cookies to improve your experience on "
              "SITE and to personalize advertising content across pages.")
    bodies = [
        "A completely original paragraph about transcript quantification methods.",
        "Another unique paragraph describing the evaluation protocol in detail.",
        "Yet another distinct paragraph with its own particular substance here.",
    ]
    rows = [
        (i, banner.replace("SITE", f"site-{i}.example") + "\n\n" + bodies[i],
         "en", "s", 300)
        for i in range(3)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    cli.main([
        "curate", src, out, "-quality_min", "0.0", "-skip_normalize",
        "-para_near_dedup", "0.7",
    ])
    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(got) == {0, 1, 2}
    # exactly one banner variant survives across the corpus; every
    # unique body paragraph is intact
    assert sum("uses cookies" in t for t in got.values()) == 1
    for i in range(3):
        assert bodies[i] in got[i]
