"""SQL-string surface + envelope long-view tests.

The reference has NO SQL surface (SURVEY.md §2.10); the engine adds one via
registered views — any spark.sql() query over the catalog tables works.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from syscol_spark.functions.envelope import ENVELOPE_SCHEMA, explode_envelope
from syscol_spark.sources.tables import register_views


def test_spark_sql_over_views(spark, sf_dir):
    register_views(spark, sf_dir)
    rows = spark.sql(
        """
        SELECT n_name, COUNT(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n DESC, n_name LIMIT 3
        """
    ).collect()
    assert len(rows) == 3
    assert rows[0]["n"] >= rows[1]["n"] >= rows[2]["n"]


def test_sql_over_events_derived_columns(spark, sf_dir):
    register_views(spark, sf_dir)
    [row] = spark.sql(
        "SELECT COUNT(*) AS n, MIN(ts_us) AS lo FROM events WHERE ts_ns div 1000 = ts_us"
    ).collect()
    assert row["n"] > 0  # ns→µs derivation consistent for every row


def test_explode_envelope_long_view(spark):
    df = spark.createDataFrame(
        [("S1", "h1", 5051, "ns", 1704067798778549829, {"m/a": 1.5, "m/b": 2.0})],
        ENVELOPE_SCHEMA,
    )
    env_df = df.select(
        F.struct(*[F.col(c) for c in df.columns]).alias("envelope")
    )
    long_view = explode_envelope(env_df)
    rows = {r["metric"]: r for r in long_view.collect()}
    assert set(rows) == {"m/a", "m/b"}
    r = rows["m/a"]
    assert r["value"] == 1.5
    assert r["slave_id"] == "S1" and r["hostname"] == "h1"
    assert r["ts_ns"] == 1704067798778549829
    # µs truncation contract
    assert r["ts"].microsecond == (1704067798778549829 // 1000) % 1_000_000


def test_ewma_matches_python_recurrence(spark, sf_dir):
    """q_ev_ewma vs an independent driver-side fold: s_k = 0.5*s + 0.5*x over
    each user's last-16 frame (both IEEE doubles, so equality is exact)."""
    from syscol_spark.plans.catalog import query_catalog
    from syscol_spark.sources.tables import load_table

    got = {
        r["event_id"]: r["ewma"]
        for r in query_catalog()["q_ev_ewma"](spark, sf_dir).collect()
    }
    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts_us", F.col("value").cast("double"))
        .collect(),
        key=lambda r: (r["user_id"], r["ts_us"], r["event_id"]),
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    checked = 0
    for rows in by_user.values():
        for i, r in enumerate(rows):
            frame = [x["value"] for x in rows[max(0, i - 15) : i + 1]]
            s = frame[0]
            for x in frame[1:]:
                s = s * 0.5 + x * 0.5
            assert got[r["event_id"]] == s, (r["event_id"], got[r["event_id"]], s)
            checked += 1
    assert checked == len(got) > 0


def test_hash_bucket_cross_engine_fuzz(spark):
    """The md5 sampling kernel must agree with its DuckDB SQL twin on
    arbitrary unicode keys (not just fixture values) — membership of every
    deterministic sample rides on this."""
    import random

    import duckdb

    from syscol_spark.operators.sampling import hash_bucket, hash_bucket_sql

    rng = random.Random(42)

    def ch():
        c = rng.randint(32, 0x10FFF)
        return chr(c) if not 0xD800 <= c <= 0xDFFF else "A"

    keys = [""] + ["".join(ch() for _ in range(rng.randint(1, 40))) for _ in range(600)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = [r["b"] for r in df.select(hash_bucket("k", seed=7).alias("b")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    exp = [r[0] for r in con.sql(f"SELECT {hash_bucket_sql('k', seed=7)} FROM t").fetchall()]
    assert got == exp


def test_srp_band_keys_cross_engine_fuzz(spark):
    """SRP band keys (±1-plane sign bits) must be identical across engines
    on random vectors — the candidate set of every SRP query rides on the
    sign bits, and the exactness argument (same exact addends, any order)
    must hold off-fixture too. The engine side is _srp_postings, the key
    UDF the candidate builders run."""
    import duckdb
    import numpy as np

    from syscol_spark.operators.similarity import _srp_postings, srp_band_sql_keys

    dim = 64
    vecs = [np.random.RandomState(i).uniform(-1, 1, dim).astype("float32") for i in range(300)]
    vdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    srows = (
        vdf.select("vec_id", _srp_postings("embedding", dim, 8, 4, 42).keys.alias("keys"))
        .orderBy("vec_id")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE v(vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO v VALUES (?, ?)", [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    sel = ", ".join(f"{e} AS b{i}" for i, e in enumerate(srp_band_sql_keys(dim, n_bands=8, band_bits=4)))
    drows = con.sql(f"SELECT vec_id, {sel} FROM v ORDER BY vec_id").fetchall()
    assert len(srows) == len(drows) == len(vecs)
    for sr, dr in zip(srows, drows):
        assert sr["keys"] == list(dr[1:])


def test_minhash_portable_signatures_cross_engine_fuzz(spark):
    """Full portable-kernel MinHash signatures (whitespace shingling + md5
    hashing + universal-hash minima) must match the DuckDB oracle SQL on
    random multilingual/whitespace-edge docs — the q_minhash_lsh oracle's
    entire candidate set rides on signature equality."""
    import random

    import duckdb

    from syscol_spark.operators.dedup import minhash_signatures

    rng = random.Random(7)
    P, N = 2147483647, 16

    def word():
        pools = ["abcdefgh", "äöüßéñç", "日本語の言葉", "!@#$%^&*()", "0123456789"]
        pool = pools[rng.randrange(len(pools))]
        return "".join(rng.choice(pool) for _ in range(rng.randint(1, 6)))

    def doc():
        n = rng.randint(0, 12)
        return rng.choice([" ", "  ", "\t", "\n"]).join(word() for _ in range(n)) + rng.choice(["", " "])

    docs = [(i, doc()) for i in range(150)] + [(150, ""), (151, "   "), (152, "one"), (153, "a b")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sp = {
        r["id"]: list(r["signature"])
        for r in minhash_signatures(df, "text", "doc_id", n_hashes=N, shingle_n=3, kernel="portable").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    sig_cols = ",".join(f"MIN(({2*i+1} * h + {i*40503+1}) % {P}) AS s{i}" for i in range(N))
    du = {
        r[0]: list(r[1:])
        for r in con.sql(f"""
            WITH sh AS (
              SELECT doc_id,
                     CASE WHEN array_length(toks) >= 3
                       THEN list_transform(range(1, array_length(toks) - 1),
                                           i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                       ELSE [array_to_string(toks, ' ')] END AS shset
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
            ), hashed AS (
              SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {P} AS h
              FROM (SELECT doc_id, unnest(shset) AS s FROM sh)
            )
            SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id
        """).fetchall()
    }
    assert sp == du


def test_simhash_portable_fingerprints_cross_engine_fuzz(spark):
    """Portable SimHash fingerprints (distinct whitespace tokens, md5-60bit
    hash, per-bit ±1 sums) must match the DuckDB kernel on random
    multilingual docs — the q_simhash candidate set and Hamming distances
    ride on the fingerprints agreeing off-fixture."""
    import random

    import duckdb

    from syscol_spark.operators.dedup import simhash

    rng = random.Random(13)

    def word():
        pool = rng.choice(["abcdefgh", "äöüßéñç", "中文词汇测试", "0123456789!?"])
        return "".join(rng.choice(pool) for _ in range(rng.randint(1, 6)))

    docs = [(i, " ".join(word() for _ in range(rng.randint(1, 15)))) for i in range(200)]
    docs += [(200, "solo",), (201, "a a a a",)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sp = {r["id"]: r["simhash"] for r in simhash(df, "text", "doc_id", n_bits=60, kernel="portable").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END) AS b{b}" for b in range(60)
    )
    fp = " | ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(60))
    du = {
        r[0]: r[1]
        for r in con.sql(f"""
            WITH hashed AS (
              SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
              FROM (SELECT doc_id,
                           unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
                    FROM documents)
            ), bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
            SELECT doc_id, CAST({fp} AS BIGINT) FROM bits
        """).fetchall()
    }
    assert sp == du


def test_normalize_text_cross_engine_fuzz(spark):
    """normalize_text must agree with its DuckDB twin (the q_norm_dedup
    oracle expression) beyond fixture data: random ASCII with messy case,
    punctuation runs and mixed whitespace. ASCII-only by design — non-ASCII
    casefolding is engine-specific (Java toLowerCase vs utf8proc), and the
    corpus contract for this kernel is ASCII text."""
    import random

    import duckdb

    from syscol_spark.functions.text import normalize_text

    rng = random.Random(7)
    alphabet = "abcXYZ09.,!?;: \t\n  "
    texts = [""] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 80))) for _ in range(500)
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["n"] for r in df.select(normalize_text("t").alias("n")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(t VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    exp = [
        r[0]
        for r in con.sql(
            r"""SELECT trim(regexp_replace(regexp_replace(lower(t), '[.,!?;:]', '', 'g'),
                                           '\s+', ' ', 'g')) FROM t"""
        ).fetchall()
    ]
    assert got == exp


def test_cdc_chunks_cross_engine_fuzz(spark):
    """The CDC chunk table (boundaries AND chunk hashes) must match the
    q_cdc_chunks oracle kernel on random corpora — boundary placement rides
    on the md5 token-int kernel, chunk identity on deterministic
    reassembly order."""
    import random

    import duckdb

    from syscol_spark.functions.text import FINGERPRINT_P
    from syscol_spark.operators.dedup import cdc_chunks

    rng = random.Random(11)
    vocab = ["".join(rng.choice("abcdefgh") for _ in range(rng.randint(1, 6))) for _ in range(40)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 120))) for _ in range(200)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_hash"], r["n_tokens"])
        for r in cdc_chunks(df, "text", "doc_id", mod=8).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    exp = sorted(
        map(
            tuple,
            con.sql(
                rf"""
        WITH tok AS (
          SELECT doc_id, pos, token,
                 CASE WHEN (('0x' || substr(md5(token), 1, 15))::BIGINT % {FINGERPRINT_P}) % 8 = 7
                      THEN 1 ELSE 0 END AS cut
          FROM (SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\s+')) AS token,
                       generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
                FROM documents)
          WHERE token <> ''
        ), ch AS (
          SELECT doc_id, token, pos,
                 COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
          FROM tok
        )
        SELECT doc_id, chunk_id, md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM ch GROUP BY doc_id, chunk_id
        """
            ).fetchall(),
        )
    )
    assert got == exp


def test_bpe_merges_cross_engine_fuzz(spark):
    """learn_bpe_merges must reproduce the unrolled-CTE oracle's merge table
    on random corpora — pair argmax ordering, overlap semantics and the
    replace-application step all have to agree step by step, off-fixture."""
    import random

    import duckdb

    from syscol_spark.operators.bpe import learn_bpe_merges
    from syscol_spark.plans.northstar import _bpe_oracle_sql

    for seed in (3, 17, 29):
        rng = random.Random(seed)
        vocab = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 5))) for _ in range(12)
        ]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))) for _ in range(60)
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [
            (r["step"], r["left_sym"], r["right_sym"], r["merged"], r["freq"])
            for r in learn_bpe_merges(df, "text", n_merges=5).collect()
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?)", [(t,) for t in texts])
        exp = sorted(map(tuple, con.sql(_bpe_oracle_sql(5)).fetchall()))
        assert sorted(got) == exp, (seed, got, exp)
