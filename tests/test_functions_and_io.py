"""Unit tests for the scalar-function layer, RSB1 codec, validated
sinks, and loadstring/loadfile (SURVEY.md §2.1/§2.8/§2.12 [I] rows)."""

from __future__ import annotations

import os

import pytest

from pulsar_internal_spark.functions import encoding as enc
from pulsar_internal_spark.functions import hashing as H
from pulsar_internal_spark.functions.registry import register_all_functions
from pulsar_internal_spark.plans.loadstring import (
    BinarySourceError,
    loadfile,
    loadstring,
    looks_binary,
)
from pulsar_internal_spark.sources.sinks import (
    BlockedExtensionError,
    SandboxEscapeError,
    append_table,
    normalize_sink_path,
    write_table,
)


# ---------------------------------------------------------------- RSB1


@pytest.mark.parametrize("key", [b"\x00\x00\x00\x00", b"\x13\x37\xab\xcd"])
@pytest.mark.parametrize(
    "payload",
    [b"", b"print('hi')", b"x" * 10_000, bytes(range(256)) * 17],
)
def test_rsb1_roundtrip(key, payload):
    env = enc.rsb1_encode(payload, key=key)
    assert enc.rsb1_decode(env) == payload


def test_rsb1_layout():
    """Envelope = 4B masked key + 4B LE size + zstd frame, all XOR'd with
    the bytecode.cpp:129-155 schedule. With the zero key, the size field
    is only masked by the position term i*41."""
    payload = b"hello world"
    env = enc.rsb1_encode(payload, key=b"\x00\x00\x00\x00")
    size = bytes((env[4 + i] ^ ((0 + (4 + i) * 41) & 0xFF)) for i in range(4))
    assert int.from_bytes(size, "little") == len(payload)


def test_rsb1_rejects_short_input():
    with pytest.raises(ValueError):
        enc.rsb1_decode(b"RSB")


# ------------------------------------------------------ LZ4 block codec


def test_lz4_golden_blocks():
    """Handcrafted spec-valid blocks, written per the public block
    format independently of the compressor (crypt.hpp:432-470 parity:
    caller-supplied size bound)."""
    from pulsar_internal_spark.functions.compression import (
        lz4_block_decompress as D,
    )

    # token 0x32 = 3 literals + match len 6; offset 3 -> 'abc' repeated
    assert D(b"\x32abc\x03\x00\x20xy", 100) == b"abcabcabcxy"
    # overlapping copy (offset 1 < match len): RLE expansion
    assert D(b"\x1fa\x01\x00\x01\x00", 100) == b"a" * 21
    assert D(b"\x00", 100) == b""


def test_lz4_roundtrip_shapes():
    from pulsar_internal_spark.functions.compression import (
        lz4_block_compress as C,
        lz4_block_decompress as D,
    )

    cases = [
        b"",
        b"abc",
        b"a" * 10_000,
        bytes(range(256)) * 17,
        b"the quick brown fox " * 500,
        b"ab" * 4,
    ]
    for d in cases:
        assert D(C(d), max(len(d), 1)) == d
    # highly repetitive input must actually compress
    assert len(C(b"a" * 10_000)) < 100


def test_lz4_size_bound_enforced():
    from pulsar_internal_spark.functions.compression import (
        lz4_block_compress as C,
        lz4_block_decompress as D,
    )

    with pytest.raises(ValueError):
        D(C(b"z" * 1000), 999)


def test_lz4_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pulsar_internal_spark.functions.compression import (
        lz4_block_compress as C,
        lz4_block_decompress as D,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=2000))
    def check(data):
        assert D(C(data), max(len(data), 1)) == data

    check()


# ------------------------------------------------- golden scalar parity


def test_djb2_known_values():
    # djb2 with hash*33+c over bytes, 16-hex (crypt.hpp:346-369);
    # independently computed in pure Python here.
    def ref(s: str) -> str:
        h = 5381
        for b in s.encode():
            h = (h * 33 + b) & 0xFFFFFFFFFFFFFFFF
        return f"{h:016x}"

    for s in ["", "a", "hello", "ALGERIA", "ünïcode"]:
        assert H.djb2_hex(s) == ref(s)


def test_derive_bytes_formula():
    # out[i] = value[i%len] ^ (i & 0xFF) ^ ((i >> 8) & 0xFF)  (crypt.hpp:371-398)
    v = "key"
    raw = bytes.fromhex(H.derive_bytes(v, 300))
    vb = v.encode()
    for i in (0, 1, 2, 3, 255, 256, 299):
        assert raw[i] == vb[i % len(vb)] ^ (i & 0xFF) ^ ((i >> 8) & 0xFF)


def test_xor_crypt_roundtrip_and_iv():
    ct = H.xor_crypt("secret data", "k1")
    assert H.xor_decrypt(ct, "k1").decode() == "secret data"
    # deterministic-IV mode: same (data, key) -> same ciphertext
    assert ct == H.xor_crypt("secret data", "k1")
    assert ct != H.xor_crypt("secret data", "k2")


def test_registry_aliases_usable_from_sql(spark):
    names = register_all_functions(spark)
    assert {"crypt_hash", "djb2", "derive32", "scripthash"} <= set(names)
    row = spark.sql("SELECT djb2('hello') AS a, crypt_hash('hello') AS b").first()
    assert row.a == row.b == H.djb2_hex("hello")


# ------------------------------------------------------------ sinks


def test_write_table_codecs_roundtrip(spark, tmp_path):
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    for codec in ("zstd", "lz4"):
        out = write_table(df, f"out_{codec}", str(tmp_path), codec=codec)
        back = spark.read.parquet(out)
        assert back.count() == 100
        part = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
        assert codec in part  # spark embeds the codec name in the file name


def test_append_table(spark, tmp_path):
    df = spark.range(10)
    write_table(df, "t", str(tmp_path))
    append_table(df, "t", str(tmp_path))
    assert spark.read.parquet(str(tmp_path / "t")).count() == 20


def test_blocked_extensions(spark, tmp_path):
    df = spark.range(1)
    for bad in ("evil.exe", "x.ps1", "a/b/archive.zip"):
        with pytest.raises(BlockedExtensionError):
            write_table(df, bad, str(tmp_path))


def test_sandbox_escape_refused(tmp_path):
    with pytest.raises(SandboxEscapeError):
        normalize_sink_path("../outside", str(tmp_path / "root"))
    # backslash paths are normalized, not escapes (filesys.hpp:50-84)
    p = normalize_sink_path("sub\\dir\\f", str(tmp_path / "root"))
    assert p.endswith("root/sub/dir/f")


# -------------------------------------------------------- loadstring


def test_loadstring_runs_sql_over_views(spark, sf_dir):
    df = loadstring(
        spark, "SELECT COUNT(*) AS n FROM nation", sf_dir=sf_dir
    )
    assert df.first().n == 25


def test_loadstring_rejects_binary():
    # exact IsLuauBytecode parity (closures.hpp:229-251)
    assert looks_binary("\x00\x01\x02\x03\x04\x05\x06\x07\x08\x01")
    assert not looks_binary("SELECT 1")
    assert not looks_binary("\x00\x01\x02")  # len < 4 never flags
    # control first byte + mostly-printable body is ACCEPTED (the
    # reference requires the non-printable ratio too, AND not OR)
    assert not looks_binary("\x01" + "a" * 40)
    # non-ASCII printable codepoints are not "non-printable"
    assert not looks_binary("äöü ßßß héllo wörld")
    # tab/LF/CR are excluded from the control-char count
    assert not looks_binary("\x01\t\n\r\t\n\r\t\n\r abcdef")
    with pytest.raises(BinarySourceError):
        loadstring(None, "\x00\x01\x02\x03\x04\x05\x06\x07\x08binary blob")


def test_loadfile(spark, sf_dir, tmp_path):
    p = tmp_path / "q.sql"
    p.write_text("SELECT n_name FROM nation WHERE n_nationkey = 0")
    assert loadfile(spark, str(p), sf_dir=sf_dir).count() == 1


def test_registry_full_alias_surface(spark):
    """The widened alias set is callable from SQL text and roundtrips."""
    register_all_functions(spark)
    r = spark.sql("""
        SELECT base64decode(base64encode('hello world')) AS b64_rt,
               crypt_decrypt(crypt_encrypt('secret', 'k'), 'k') AS xor_rt,
               rsb1_decode(rsb1_encode('payload')) AS rsb1_rt,
               dumpstring(rsb1_encode_keyed('bytecode')) AS keyed_rt,
               lz4decompress(lz4compress('blob blob blob blob')) AS lz4_rt
    """).first()
    assert r.b64_rt == "hello world"
    assert r.xor_rt == "secret"
    assert r.rsb1_rt == "payload"
    assert r.keyed_rt == "bytecode"
    assert r.lz4_rt == "blob blob blob blob"


# --------------------------------------- FS predicates & mutations


def test_fs_utils_sandboxed(tmp_path):
    """isfile/isfolder/makefolder/delfile/delfolder/listfiles
    (filesys.hpp:269-326,379-444) under the sandbox root."""
    from pulsar_internal_spark.sources import sinks as S

    base = str(tmp_path / "root")
    os.makedirs(base)
    assert not S.isfile("a.txt", base)
    assert not S.isfolder("sub", base)

    made = S.makefolder("sub/deep", base)
    assert S.isfolder("sub", base) and S.isfolder("sub/deep", base)
    assert made.endswith("root/sub/deep")

    with open(os.path.join(base, "sub", "f.txt"), "w") as f:
        f.write("x")
    assert S.isfile("sub/f.txt", base)
    assert S.listfiles("sub", base) == ["sub/deep", "sub/f.txt"]

    with pytest.raises(IsADirectoryError):
        S.delfile("sub", base)
    S.delfile("sub/f.txt", base)
    assert not S.isfile("sub/f.txt", base)

    S.delfolder("sub", base)  # recursive: deep/ goes too
    assert not S.isfolder("sub", base)

    # sandbox enforcement on every entry point
    with pytest.raises(SandboxEscapeError):
        S.isfile("../etc/passwd", base)
    with pytest.raises(SandboxEscapeError):
        S.delfolder("..", base)
    with pytest.raises(SandboxEscapeError):
        S.delfolder(".", base)  # the root itself


# ----------------------------------------- script-hash memoization


def test_loadstring_memoized_reuses_plan(spark, sf_dir):
    """script.hpp:30,127-129 memo: same (normalized) source -> the SAME
    cached DataFrame object; the plan reads from InMemoryRelation."""
    from pulsar_internal_spark.plans.loadstring import (
        _SCRIPT_MEMO,
        loadstring_memoized,
    )

    _SCRIPT_MEMO.clear()
    src = "SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey"
    df1 = loadstring_memoized(spark, src, sf_dir=sf_dir)
    # whitespace-normalized variant hits the same memo slot
    df2 = loadstring_memoized(spark, "SELECT n_regionkey,   COUNT(*) AS n "
                              "FROM nation GROUP BY n_regionkey", sf_dir=sf_dir)
    assert df1 is df2
    assert df1.count() == 5
    assert "InMemoryRelation" in df1._jdf.queryExecution().optimizedPlan().toString()
    df1.unpersist()
    _SCRIPT_MEMO.clear()


# ------------------------------------------------------------ observability


def test_observed_rows_counts_in_flight(spark, sf_dir):
    """observe() counters must report the rows at the ATTACHMENT point
    of the plan (before the filter), not the output — one pass, no
    second scan."""
    from pyspark.sql import functions as F

    from pulsar_internal_spark.observability import observed_rows, stage_selectivity
    from pulsar_internal_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()

    df, obs = observed_rows(orders, extra=[F.round(F.sum("o_totalprice"), 2).alias("volume")])
    out = df.filter(F.col("o_orderstatus") == "O")
    n_out = out.count()  # the single action that drives the observation
    m = obs.get
    assert m["n_rows"] == total != n_out
    assert m["volume"] > 0

    filtered, obs_in, obs_out = stage_selectivity(
        orders, F.col("o_totalprice") > 200000
    )
    n = filtered.count()
    assert obs_in.get["n_rows"] == total
    assert obs_out.get["n_rows"] == n
    assert 0 < n < total


def test_stage_selectivity_multiple_stages_one_plan(spark, sf_dir):
    """Two instrumented stages in ONE plan must not collide on
    observation names (unique-suffix contract)."""
    from pyspark.sql import functions as F

    from pulsar_internal_spark.observability import stage_selectivity
    from pulsar_internal_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    s1, in1, out1 = stage_selectivity(orders, F.col("o_totalprice") > 100000)
    s2, in2, out2 = stage_selectivity(s1, F.col("o_orderstatus") == "O")
    n = s2.count()
    assert in1.get["n_rows"] == orders.count()
    assert out1.get["n_rows"] == in2.get["n_rows"]
    assert out2.get["n_rows"] == n


def test_load_table_memoizes_inferred_schema(spark, tmp_path):
    """The second load_table of one file infers no schema (no Spark
    job); rewriting the file with other columns is seen on the next
    load."""
    import pandas as pd

    from pulsar_internal_spark.sources.tables import load_table
    from tests.conftest import jobs_submitted

    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    pd.DataFrame({"r_regionkey": [1], "r_name": ["a"]}).to_parquet(path)
    first = load_table(spark, sf, "region")
    assert first.columns == ["r_regionkey", "r_name"]
    assert jobs_submitted(spark, lambda: load_table(spark, sf, "region")) == 0
    assert load_table(spark, sf, "region").collect() == first.collect()

    pd.DataFrame({"k": [2], "v": [3.5], "s": ["x"]}).to_parquet(path)
    again = load_table(spark, sf, "region")
    assert dict(again.dtypes) == {"k": "bigint", "v": "double", "s": "string"}
    assert [tuple(r) for r in again.collect()] == [(2, 3.5, "x")]


def test_spread_passes_streaming_df_through(spark, tmp_path):
    """spread() must not probe .rdd on a streaming DataFrame (that
    conversion is unsupported) — it passes the stream through."""
    from pulsar_internal_spark.sources.tables import spread

    src = tmp_path / "stream_src"
    src.mkdir()
    sdf = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    out = spread(sdf)
    assert out.isStreaming
    assert out is sdf  # untouched, no repartition injected


def _write_rows(path: str, n: int, start: int = 0) -> None:
    import pandas as pd

    pd.DataFrame({"k": range(start, start + n), "v": ["x" * 8] * n}).to_parquet(path)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _core_count_rule(df, out) -> None:
    """The fallback: round-robin to ``sc.defaultParallelism`` unless the
    frame already has that many partitions."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        assert out is df
    else:
        assert out.rdd.getNumPartitions() == target


def test_spread_keeps_a_small_parquet_frame_whole(spark, tmp_path):
    """A 500-row parquet frame fits one task (ROWS_PER_TASK), so spread()
    returns the frame itself, adds no exchange, and sizes it from the
    footer with no Spark job."""
    from pulsar_internal_spark.sources.tables import (
        ROWS_PER_TASK,
        read_parquet,
        spread,
    )
    from tests.conftest import jobs_submitted

    assert ROWS_PER_TASK >= 500
    path = str(tmp_path / "small.parquet")
    _write_rows(path, 500)
    df = read_parquet(spark, path).where("k % 3 = 0").select("k")
    got = []
    assert jobs_submitted(spark, lambda: got.append(spread(df))) == 0
    assert got[0] is df
    assert "RoundRobinPartitioning" not in _executed_plan(got[0])


def test_spread_sizes_a_large_parquet_frame_from_its_rows(spark, tmp_path):
    """Footer rows summed over every input file size the target:
    min(defaultParallelism, ceil(rows / ROWS_PER_TASK)) partitions."""
    from pulsar_internal_spark.sources.tables import (
        ROWS_PER_TASK,
        read_parquet,
        spread,
    )

    d = tmp_path / "large"
    d.mkdir()
    half = 2 * ROWS_PER_TASK
    _write_rows(str(d / "a.parquet"), half)
    _write_rows(str(d / "b.parquet"), half + 1, start=half)
    rows = 2 * half + 1
    df = read_parquet(spark, str(d)).select("k", "v")
    out = spread(df)
    want = min(spark.sparkContext.defaultParallelism, -(-rows // ROWS_PER_TASK))
    if df.rdd.getNumPartitions() >= want:
        assert out is df
    else:
        assert out.rdd.getNumPartitions() == want
        assert "RoundRobinPartitioning" in _executed_plan(out)
    assert out.count() == rows


def test_spread_keeps_the_core_count_rule_without_footer_rows(spark, tmp_path):
    """Frames whose rows no parquet footer bounds (a join of two scans,
    an in-memory frame) still target sc.defaultParallelism."""
    from pulsar_internal_spark.sources.tables import read_parquet, spread

    path = str(tmp_path / "side.parquet")
    _write_rows(path, 500)
    scan = read_parquet(spark, path)
    joined = scan.join(scan.select("k"), "k")
    _core_count_rule(joined, spread(joined))
    local = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ).coalesce(1)
    _core_count_rule(local, spread(local))


def test_table_rows_equals_count_for_file_and_partitioned_tables(spark, tmp_path):
    """table_rows sums parquet footer rows with no Spark job and equals
    COUNT(*) for the fixtures' single-file layout and for a partitioned
    directory; the directory's _SUCCESS and .crc files are skipped."""
    from pulsar_internal_spark.sources.tables import load_table, table_rows
    from tests.conftest import jobs_submitted

    _write_rows(str(tmp_path / "flat.parquet"), 700)
    spark.range(0, 1300).selectExpr("id AS k", "id % 3 AS p").write.partitionBy(
        "p"
    ).parquet(str(tmp_path / "parted"))
    names = {f for _, _, fs in os.walk(tmp_path / "parted") for f in fs}
    assert "_SUCCESS" in names and any(f.startswith(".") for f in names)
    for name, rows in (("flat", 700), ("parted", 1300)):
        got = []
        jobs = jobs_submitted(
            spark, lambda: got.append(table_rows(str(tmp_path), name))
        )
        assert jobs == 0
        assert got == [rows] == [load_table(spark, str(tmp_path), name).count()]


# -- HTTP ingestion (D7 records, http.hpp:139-294/450-496) ----------------


import threading


def _start_http_server():
    """Local-only test server: JSON body + custom header + cookie on /ok,
    404 on /missing, POST echo on /echo."""
    import http.server

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path == "/ok":
                body = b'{"hello": "world"}'
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("X-Custom", "yes")
                self.send_header("Set-Cookie", "sid=abc123; Path=/")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                body = b"nope"
                self.send_response(404)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = b"echo:" + self.rfile.read(n)
            self.send_response(201)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_port}"


def test_http_request_builds_d7_records(spark):
    """Driver-side HttpGet/HttpPost: D7 shape (Success, StatusCode,
    StatusMessage phrase, header map, cookie map, body), failures kept
    as evidence rows."""
    from pulsar_internal_spark.sources.http import http_request

    srv, base = _start_http_server()
    try:
        df = http_request(
            spark,
            [
                {"url": f"{base}/ok"},
                {"url": f"{base}/missing"},
                {"url": f"{base}/echo", "method": "POST", "body": "ping"},
                {"url": "http://127.0.0.1:1/unreachable", },
            ],
            timeout=5.0,
        )
        rows = {r.url.rsplit("/", 1)[-1]: r for r in df.collect()}
    finally:
        srv.shutdown()

    ok = rows["ok"]
    assert (ok.Success, ok.StatusCode, ok.StatusMessage) == (True, 200, "OK")
    assert ok.Headers["x-custom"] == "yes"
    assert ok.Cookies == {"sid": "abc123"}
    assert '"hello"' in ok.Body

    miss = rows["missing"]
    assert (miss.Success, miss.StatusCode, miss.StatusMessage) == (
        False, 404, "Not Found")
    assert miss.Body == "nope"

    echo = rows["echo"]
    assert (echo.Success, echo.StatusCode, echo.StatusMessage) == (
        True, 201, "Created")
    assert echo.Body == "echo:ping"

    dead = rows["unreachable"]
    assert dead.Success is False and dead.StatusCode == 0
    assert dead.StatusMessage  # error text preserved


def test_http_fetch_distributed_matches_driver_path(spark):
    """Executor-side fetch of a request table: same records as the
    driver path, produced by Arrow-batched workers — and the plan is a
    mapInPandas over the request table (no collect of payloads)."""
    from pulsar_internal_spark.sources.http import (
        http_fetch_distributed,
        http_request,
    )

    srv, base = _start_http_server()
    try:
        urls = [f"{base}/ok", f"{base}/missing"]
        req_df = spark.createDataFrame([(u,) for u in urls], ["url"])
        dist = {r.url: r for r in http_fetch_distributed(req_df).collect()}
        drv = {r.url: r for r in
               http_request(spark, [{"url": u} for u in urls]).collect()}
    finally:
        srv.shutdown()
    for u in urls:
        a, b = dist[u], drv[u]
        assert (a.Success, a.StatusCode, a.StatusMessage, a.Body) == (
            b.Success, b.StatusCode, b.StatusMessage, b.Body)
        assert a.Cookies == b.Cookies


def test_http_fetch_distributed_null_method_body(spark):
    """Nullable method/body columns: NaN cells must mean 'absent'
    (GET, no body), never the literal string 'nan'."""
    from pulsar_internal_spark.sources.http import http_fetch_distributed

    srv, base = _start_http_server()
    try:
        req = spark.createDataFrame(
            [(f"{base}/echo", "POST", "data"), (f"{base}/ok", None, None)],
            "url string, method string, body string",
        )
        rows = {r.url.rsplit("/", 1)[-1]: r for r in http_fetch_distributed(
            req, method_col="method", body_col="body").collect()}
    finally:
        srv.shutdown()
    assert rows["echo"].Body == "echo:data"
    assert rows["ok"].StatusCode == 200 and '"hello"' in rows["ok"].Body


# ---------------------------------------------------------------- shipping


def test_shipped_zip_is_per_process():
    """Two engine processes on one host build distinct package zips, so
    neither overwrites the zip the other's executors fetch. No Spark."""
    import subprocess
    import sys
    import zipfile

    from pulsar_internal_spark.shipping import build_zip, package_root

    init = "pulsar_internal_spark/__init__.py"
    # the child's zip is removed when it exits, so it reads its own
    child = subprocess.run(
        [
            sys.executable,
            "-c",
            "import zipfile; from pulsar_internal_spark.shipping import "
            "build_zip; p = build_zip(); "
            "print(p, %r in zipfile.ZipFile(p).namelist())" % init,
        ],
        cwd=os.path.dirname(package_root()),
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    mine = build_zip()
    assert child[0] != mine
    assert child[1] == "True"
    assert init in zipfile.ZipFile(mine).namelist()
