"""Unit coverage for the round-9 crawl front-door additions:
robots.txt parsing/matching (llm/robots.py, RFC 9309) and charset
sniffing/decoding (llm/charset.py, WHATWG precedence). The catalog
entries x51/x47 gate the end-to-end plans against DuckDB oracles;
these tests pin the parser semantics that the fixtures cannot
exercise exhaustively — group-selection corners, alias folding,
refusal arms — plus a text-level fuzz loop (the byte-level loop
lives in test_parser_fuzz.py).
"""

from __future__ import annotations

import random
import re
import zlib

from trisk_datawrangle_spark.llm.charset import (
    decode_body,
    http_decode_text,
    sniff_charset,
)
from trisk_datawrangle_spark.llm.robots import (
    parse_robots,
    robots_rules,
    rule_regex,
)

BODY = """# fixture
User-agent: otherbot
Disallow: /

User-agent: trisk-crawler
Allow: /p/2/ok$
Disallow: /p/2*

User-agent: *
Disallow: /q/
Allow: /q/open
Crawl-delay: 7
"""


class TestParseRobots:
    def test_specific_group_overrides_star(self):
        assert parse_robots(BODY, "trisk-crawler") == [
            ("allow", "/p/2/ok$"),
            ("disallow", "/p/2*"),
        ]

    def test_star_group_when_no_specific_match(self):
        assert parse_robots(BODY, "somebody") == [
            ("disallow", "/q/"),
            ("allow", "/q/open"),
        ]

    def test_decoy_group_never_leaks(self):
        for agent in ("trisk-crawler", "somebody"):
            assert ("disallow", "/") not in parse_robots(BODY, agent)

    def test_case_insensitive_agents_and_directives(self):
        up = BODY.upper()
        assert parse_robots(up, "TRISK-CRAWLER") == [
            ("allow", "/P/2/OK$"),
            ("disallow", "/P/2*"),
        ]
        assert parse_robots(up, "trisk-crawler")[0][0] == "allow"

    def test_crlf_and_bare_cr_line_endings(self):
        for nl in ("\r\n", "\r"):
            body = BODY.replace("\n", nl)
            assert parse_robots(body, "trisk-crawler") == [
                ("allow", "/p/2/ok$"),
                ("disallow", "/p/2*"),
            ]

    def test_stacked_agent_lines_share_group(self):
        body = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
        assert parse_robots(body, "a") == [("disallow", "/x")]
        assert parse_robots(body, "b") == [("disallow", "/x")]

    def test_agent_after_rule_starts_new_group(self):
        body = (
            "User-agent: a\nDisallow: /x\n"
            "User-agent: b\nDisallow: /y\n"
        )
        assert parse_robots(body, "a") == [("disallow", "/x")]
        assert parse_robots(body, "b") == [("disallow", "/y")]

    def test_multiple_matching_groups_merge(self):
        body = (
            "User-agent: a\nDisallow: /x\n\n"
            "User-agent: b\nDisallow: /z\n\n"
            "User-agent: a\nAllow: /x/y\n"
        )
        assert parse_robots(body, "a") == [
            ("disallow", "/x"),
            ("allow", "/x/y"),
        ]

    def test_empty_path_rules_dropped(self):
        body = "User-agent: *\nDisallow:\nAllow: /a\n"
        assert parse_robots(body, "x") == [("allow", "/a")]

    def test_rules_before_any_group_ignored(self):
        body = "Disallow: /pre\nUser-agent: *\nAllow: /a\n"
        assert parse_robots(body, "x") == [("allow", "/a")]

    def test_unknown_directive_keeps_rule_list_open(self):
        body = (
            "User-agent: *\nDisallow: /x\n"
            "Crawl-delay: 3\nAllow: /x/y\n"
        )
        assert parse_robots(body, "x") == [
            ("disallow", "/x"),
            ("allow", "/x/y"),
        ]

    def test_comments_and_malformed_lines_skipped(self):
        body = (
            "User-agent: * # trailing\nnot a directive line\n"
            "Disallow: /q/ # note\n"
        )
        assert parse_robots(body, "x") == [("disallow", "/q/")]

    def test_exact_token_match_not_substring(self):
        # RFC 9309: product token matches exactly, so 'trisk' must
        # NOT inherit the 'trisk-crawler' group
        assert parse_robots(BODY, "trisk") == [
            ("disallow", "/q/"),
            ("allow", "/q/open"),
        ]

    def test_no_groups_at_all(self):
        assert parse_robots("", "x") == []
        assert parse_robots("# only comments\n", "x") == []

    def test_text_fuzz_never_raises(self):
        rng = random.Random(zlib.crc32(b"robots-fuzz"))
        chars = list(BODY) + list("\x00\r\n:#*$ \t")
        for _ in range(300):
            n = rng.randrange(0, 200)
            s = "".join(rng.choice(chars) for _ in range(n))
            parse_robots(s, "trisk-crawler")  # must not raise
            robots_rules(s, "*")


class TestRuleRegex:
    def test_wildcard_and_anchor(self):
        assert re.match(rule_regex("/p/2*"), "/p/2/anything")
        assert not re.match(rule_regex("/p/2*"), "/q/2")
        assert re.match(rule_regex("/p/2/ok$"), "/p/2/ok")
        assert not re.match(rule_regex("/p/2/ok$"), "/p/2/okx")

    def test_internal_wildcard(self):
        rx = rule_regex("/a/*/c")
        assert re.match(rx, "/a/b/c") and re.match(rx, "/a/x/y/c")
        assert not re.match(rx, "/a/b")

    def test_metacharacters_escaped(self):
        rx = rule_regex("/a.b(c)+[d]")
        assert re.match(rx, "/a.b(c)+[d]")
        assert not re.match(rx, "/aXb(c)+[d]")

    def test_specificity_counts_pattern_octets(self):
        rules = robots_rules(
            "User-agent: *\nDisallow: /p*\nAllow: /p/ok$\n", "x"
        )
        by_path = {p: l for _, p, l, _ in rules}
        assert by_path == {"/p*": 3, "/p/ok$": 6}


class TestCharset:
    T = "hello café €"  # café €

    def test_bom_beats_lying_header(self):
        b = b"\xfe\xff" + self.T.encode("utf-16be")
        assert decode_body("text/html; charset=windows-1252", b) == (
            "utf-16be",
            self.T,
        )
        b = b"\xff\xfe" + self.T.encode("utf-16le")
        assert decode_body("text/html; charset=utf-8", b) == (
            "utf-16le",
            self.T,
        )
        b = b"\xef\xbb\xbf" + self.T.encode("utf-8")
        assert decode_body("x; charset=windows-1252", b) == (
            "utf-8",
            self.T,
        )

    def test_header_charset_with_aliases_and_quotes(self):
        raw = self.T.encode("cp1252")
        for decl in (
            "iso-8859-1", "ISO-8859-1", "latin-1", "latin1",
            "cp1252", '"windows-1252"',
        ):
            got = decode_body(f"text/html; charset={decl}", raw)
            assert got == ("windows-1252", self.T), decl
        assert decode_body(
            "text/html; charset=UTF8", self.T.encode("utf-8")
        ) == ("utf-8", self.T)

    def test_meta_prescan_beats_content_sniff(self):
        # bytes are VALID utf-8, but the meta declares cp1252 —
        # honoring the prescan changes both label and text
        body = b'<meta charset="windows-1252">x \xc3\xa9'
        got = decode_body("text/html", body)
        assert got is not None
        label, text = got
        assert label == "windows-1252"
        assert text.endswith("Ã©")  # 'Ã©', not 'é'

    def test_meta_prescan_only_first_1024_bytes(self):
        pad = b"<p>" + b"a" * 1024
        body = pad + b'<meta charset="windows-1252">'
        assert sniff_charset(None, body) == "utf-8"  # fallback arm

    def test_content_sniff_fallback(self):
        assert sniff_charset(None, self.T.encode("utf-8")) == "utf-8"
        assert (
            sniff_charset(None, self.T.encode("cp1252"))
            == "windows-1252"
        )
        assert decode_body(None, b"\xe9")[0] == "windows-1252"

    def test_meta_utf16_redirects_to_utf8(self):
        # WHATWG prescan: a meta declaring utf-16 is self-
        # contradictory (the prescan works on ASCII-compatible
        # bytes) and MUST be treated as utf-8 — honoring it turns
        # ASCII pages into CJK mojibake
        for decl in ("utf-16le", "utf-16be", "utf-16", "UTF-16"):
            body = f'<meta charset="{decl}">hello'.encode("ascii")
            got = decode_body(None, body)
            assert got is not None
            label, text = got
            assert label == "utf-8"
            assert text.endswith("hello")

    def test_header_bare_utf16_is_le_alias(self):
        # WHATWG: a header-declared bare 'utf-16' means utf-16le
        body = self.T.encode("utf-16le")  # no BOM
        got = decode_body("text/html; charset=utf-16", body)
        assert got == ("utf-16le", self.T)

    def test_windows_1252_decode_is_total(self):
        # Python's strict cp1252 raises on 0x81/0x8D/0x8F/0x90/0x9D;
        # WHATWG windows-1252 maps them to the like-numbered C1
        # controls — undeclared legacy bytes must decode, not drop
        body = b"hello \x81 world \xe9"
        got = decode_body(None, body)
        assert got is not None
        label, text = got
        assert label == "windows-1252"
        assert text == "hello \x81 world é"
        # declared windows-1252 likewise
        got = decode_body("x; charset=windows-1252", b"\x8d\x90\x9d")
        assert got == ("windows-1252", "\x8d\x90\x9d")

    def test_refusals(self):
        # declared-but-unsupported charset (ISO-2022-JP's escape-
        # sequence statefulness is deliberately out of scope)
        assert decode_body("x; charset=iso-2022-jp", b"abc") is None
        assert decode_body("x; charset=utf-7", b"abc") is None
        # lying declaration: declared utf-8, invalid bytes
        assert decode_body("x; charset=utf-8", b"\xe9\xe9") is None
        # utf-16 with an odd byte tail
        assert decode_body(None, b"\xfe\xff\x00a\x00") is None
        # lying CJK declaration: 0x81 opens a cp932 double-byte
        # sequence whose second byte never arrives — strict refusal
        assert decode_body("x; charset=shift_jis", b"abc \x81") is None

    def test_cjk_legacy_multibyte(self):
        # WHATWG registry labels fold to the five CJK encodings and
        # decode via the codec matching the spec's decoder index
        cases = [
            ("shift-jis", "shift_jis", "日本語", "cp932"),
            ("windows-31j", "shift_jis", "日本語", "cp932"),
            ("EUC-JP", "euc-jp", "日本", "euc_jp"),
            ("gb2312", "gbk", "中文", "gb18030"),
            ("GBK", "gbk", "中文", "gb18030"),
            ("big5", "big5", "中文", "big5hkscs"),
            ("windows-949", "euc-kr", "한국", "cp949"),
            ("euc-kr", "euc-kr", "한국", "cp949"),
        ]
        for decl, label, tail, codec in cases:
            body = f"abc {tail}".encode(codec)
            got = decode_body(f"x; charset={decl}", body)
            assert got == (label, f"abc {tail}"), (decl, got)

    def test_single_quoted_charset_param(self):
        # RFC 9110 wants double quotes but single-quoted params are
        # common in the wild; they must parse, not silently fall
        # through to the sniff arms
        body = "abc 中文".encode("big5hkscs")
        got = decode_body("text/html; charset='big5'", body)
        assert got == ("big5", "abc 中文")

    def test_http_front_door_plain_and_chunked(self):
        from trisk_datawrangle_spark.llm.extract import (
            http_chunk_encode,
        )

        body = self.T.encode("utf-8")
        rec = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/plain; charset=utf-8\r\n\r\n" + body
        )
        assert http_decode_text(rec) == ("utf-8", self.T)
        rec = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/plain; charset=utf-8\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n"
            + http_chunk_encode(body, 5)
        )
        assert http_decode_text(rec) == ("utf-8", self.T)
        assert http_decode_text(b"not http") is None


class TestRobotsMeta:
    """parse_robots_full: the Sitemap:/Crawl-delay: control-plane
    surface (r10 — previously parsed past as unknown directives)."""

    def test_sitemaps_are_global(self):
        from trisk_datawrangle_spark.llm.robots import (
            parse_robots_full,
        )

        body = (
            "Sitemap: http://a/s1.xml\n"
            "User-agent: otherbot\nDisallow: /\n"
            "Sitemap: http://a/s2.xml\n"
            "User-agent: *\nDisallow: /q/\n"
            "sitemap:http://a/s3.xml\n"  # lowercase, no space
        )
        m = parse_robots_full(body, "trisk-crawler")
        # file order, regardless of which group surrounds them
        assert m["sitemaps"] == [
            "http://a/s1.xml", "http://a/s2.xml", "http://a/s3.xml"
        ]
        assert m["rules"] == [("disallow", "/q/")]

    def test_crawl_delay_is_group_scoped(self):
        from trisk_datawrangle_spark.llm.robots import (
            parse_robots_full,
        )

        body = (
            "User-agent: otherbot\nDisallow: /\nCrawl-delay: 99\n"
            "User-agent: trisk-crawler\nAllow: /x\nCrawl-delay: 2.5\n"
            "User-agent: *\nDisallow: /q/\nCrawl-delay: 7\n"
        )
        # specific group selected: its delay, never the decoy's 99
        m = parse_robots_full(body, "trisk-crawler")
        assert m["crawl_delay"] == 2.5
        # unmatched token falls to the * group's delay
        m = parse_robots_full(body, "somebody-else")
        assert m["crawl_delay"] == 7.0
        # no selected group declares one -> None
        m = parse_robots_full(
            "User-agent: x\nCrawl-delay: 5\nUser-agent: *\n"
            "Disallow: /a\n",
            "tok",
        )
        assert m["crawl_delay"] is None

    def test_crawl_delay_merge_and_typos(self):
        from trisk_datawrangle_spark.llm.robots import (
            parse_robots_full,
        )

        # several selected groups: maximum (most polite) wins
        m = parse_robots_full(
            "User-agent: *\nCrawl-delay: 1\n"
            "User-agent: *\nCrawl-delay: 3\n",
            "tok",
        )
        assert m["crawl_delay"] == 3.0
        # malformed values are skipped, not fatal
        for bad in ("nope", "-1", "1.2.3", "1s", ""):
            m = parse_robots_full(
                f"User-agent: *\nCrawl-delay: {bad}\nDisallow: /x\n",
                "tok",
            )
            assert m["crawl_delay"] is None, bad
            assert m["rules"] == [("disallow", "/x")]

    def test_rules_view_unchanged(self):
        # parse_robots stays the rules-only wrapper
        body = (
            "Sitemap: http://a/s.xml\nUser-agent: *\n"
            "Crawl-delay: 4\nDisallow: /q/\n"
        )
        assert parse_robots(body, "x") == [("disallow", "/q/")]


class TestCharsetRegistryWidth:
    """r10: the WHATWG registry's single-byte members (Central
    European, Cyrillic, Greek, Turkish, Hebrew, Arabic, Baltic,
    Thai, Vietnamese) — all stdlib codecs, all strict."""

    def test_every_label_decodes_ascii(self):
        from trisk_datawrangle_spark.llm.charset import _ALIASES

        for label, canon in sorted(_ALIASES.items()):
            if canon.startswith("utf-16"):
                continue  # odd-length ASCII bodies legitimately refuse
            got = decode_body(f"x; charset={label}", b"hello world")
            assert got is not None and got[0] == canon, (label, got)

    def test_family_samples_roundtrip(self):
        cases = [
            ("iso-8859-2", "Žluťoučký", "iso-8859-2"),
            ("windows-1250", "Łódź", "cp1250"),
            ("windows-1251", "Привет", "cp1251"),
            ("iso-8859-5", "мир", "iso-8859-5"),
            ("koi8-r", "мир", "koi8_r"),
            ("koi8-u", "ґанок", "koi8_u"),
            ("iso-8859-7", "Ελλάδα", "iso-8859-7"),
            ("windows-1253", "αβγ", "cp1253"),
            # WHATWG folds iso-8859-9 into windows-1254
            ("iso-8859-9", "ğüşİ", "cp1254"),
            ("iso-8859-8", "שלום", "iso-8859-8"),
            ("windows-1255", "שלום", "cp1255"),
            ("windows-1256", "مرحبا", "cp1256"),
            ("iso-8859-4", "ņemt", "iso-8859-4"),
            ("windows-1257", "žemė", "cp1257"),
            # WHATWG folds TIS-620/iso-8859-11 into windows-874
            ("tis-620", "ไทย", "cp874"),
            ("windows-1258", "đà", "cp1258"),
            ("iso-8859-15", "€uro", "iso-8859-15"),
        ]
        for decl, text, codec in cases:
            got = decode_body(
                f"x; charset={decl}", text.encode(codec)
            )
            assert got is not None and got[1] == text, (decl, got)

    def test_single_byte_stays_strict(self):
        # cp1255 leaves 0xFB undefined: a declared-but-invalid body
        # refuses, exactly like the CJK and utf arms
        assert decode_body(
            "x; charset=windows-1255", b"ok \xfb"
        ) is None


class TestUndeclaredCjkSniff:
    """_cjk_content_sniff (r10 verdict Missing #2): a headerless
    legacy-CJK page must decode under its real codec — or refuse
    loudly — never silently mangle as cp1252."""

    JA = "これは日本語のページです。漢字も混ざっています。カタカナもある。"
    KO = "이것은 한국어 페이지입니다. 한글 텍스트가 포함되어 있습니다."
    ZH = "这是一个中文网页，包含汉字文本内容。资料分析处理系统开发工作进行中。"
    ZHT = "這是一個中文網頁，包含漢字文本內容。資料分析處理系統開發工作進行中。"

    def test_five_codec_classes_recover(self):
        from trisk_datawrangle_spark.llm.charset import sniff_charset

        cases = {
            "shift_jis": ("page " + self.JA).encode("cp932"),
            "euc-jp": ("page " + self.JA).encode("euc_jp"),
            "euc-kr": ("page " + self.KO).encode("cp949"),
            "gbk": ("page " + self.ZH).encode("gb18030"),
            "big5": ("page " + self.ZHT).encode("big5hkscs"),
        }
        for want, body in cases.items():
            assert sniff_charset("text/html", body) == want, want

    def test_decode_body_roundtrips_undeclared_sjis(self):
        from trisk_datawrangle_spark.llm.charset import decode_body

        text = "page " + self.JA
        got = decode_body("text/html", text.encode("cp932"))
        assert got == ("shift_jis", text)

    def test_western_legacy_still_cp1252(self):
        from trisk_datawrangle_spark.llm.charset import sniff_charset

        body = "café résumé naïve — legacy western page".encode(
            "cp1252"
        )
        assert sniff_charset("text/html", body) == "windows-1252"
        # a lone trailing high byte (the x47 arm-4 shape) stays 1252
        assert (
            sniff_charset("text/html", b"plain text \xe9")
            == "windows-1252"
        )

    def test_declaration_still_beats_sniff(self):
        from trisk_datawrangle_spark.llm.charset import sniff_charset

        body = ("page " + self.JA).encode("cp932")
        # a DECLARED (even wrong-looking) supported label wins: the
        # sniff is the no-information arm only
        got = sniff_charset("text/html; charset=windows-1252", body)
        assert got == "windows-1252"

    def test_kana_dominance_rejects_sparse_kana(self):
        from trisk_datawrangle_spark.llm.charset import (
            _cjk_content_sniff,
        )

        # han-heavy text with trace kana: the 2*kana >= han veto —
        # this is what mis-decodes look like, not real Japanese
        text = "漢字" * 20 + "のか"
        verdict = _cjk_content_sniff(text.encode("cp932"))
        assert verdict != "euc-jp"  # and specifically not via kana
        # (shift_jis may still win via the han-only path? no — sjis
        # is distinctive-only, so it must NOT claim this)
        assert verdict in (None, "ambiguous-cjk", "gbk", "big5")

    def test_ambiguous_refuses_not_mangles(self):
        from trisk_datawrangle_spark.llm.charset import (
            AMBIGUOUS_CJK,
            _cjk_content_sniff,
            decode_body,
            sniff_charset,
        )

        # rare-han text outside the frequency prior: both gbk and
        # big5 validate, neither shows common-set dominance
        rare = "龘齉靐龖" * 6
        body = rare.encode("gb18030")
        if _cjk_content_sniff(body) == AMBIGUOUS_CJK:
            assert sniff_charset("text/html", body) is None
            assert decode_body("text/html", body) is None

    def test_truncation_tolerates_split_char_only_when_truncated(self):
        from trisk_datawrangle_spark.llm.charset import (
            _CJK_SNIFF_BYTES,
            sniff_charset,
        )

        # body longer than the sniff window, cut mid-char at the
        # window edge: the tail-trim arm must still classify it
        text = "page " + self.JA * 200
        body = text.encode("cp932")
        assert len(body) > _CJK_SNIFF_BYTES
        assert sniff_charset("text/html", body) == "shift_jis"
        # but a COMPLETE body ending in a split char is invalid —
        # no candidate, not CJK-looking, falls through to cp1252
        short = ("page " + self.JA).encode("cp932")[:-1]
        assert sniff_charset("text/html", short) == "windows-1252"


# ---- robots_verdict: the Spark-side gate over a frontier ----------- #


def _verdicts(spark, rules, urls, keys=("u",)):
    """robots_verdict over tiny in-memory frames: ``rules`` as
    (h, verb, pattern) rows, ``urls`` as (u, h, path) rows — or
    (doc, idx, h, path) when ``keys`` has two names."""
    from trisk_datawrangle_spark.llm.robots import robots_verdict

    rules_df = spark.createDataFrame(
        [(h, v, p, len(p), rule_regex(p)) for h, v, p in rules],
        "h long, verb string, pattern string, plen int, rx string",
    )
    cols = ", ".join(f"{k} long" for k in keys)
    frontier = spark.createDataFrame(urls, f"{cols}, h long, path string")
    out = robots_verdict(frontier, rules_df, list(keys))
    assert out.columns == frontier.columns + ["allowed", "rule"]
    rows = out.collect()
    assert len(rows) == len(urls)  # one row per frontier URL
    return {
        tuple(r[k] for k in keys): (r["allowed"], r["rule"]) for r in rows
    }


def test_robots_verdict_longer_rule_wins(spark):
    rules = [(1, "allow", "/a"), (1, "disallow", "/a/b")]
    got = _verdicts(spark, rules, [(1, 1, "/a/b/c"), (2, 1, "/a/x")])
    assert got == {(1,): (False, "/a/b"), (2,): (True, "/a")}


def test_robots_verdict_allow_wins_equal_length_tie(spark):
    rules = [(1, "disallow", "/a*"), (1, "allow", "/a/")]
    got = _verdicts(spark, rules, [(1, 1, "/a/x")])
    assert got == {(1,): (True, "/a/")}


def test_robots_verdict_anchored_allow_beats_shorter_disallow(spark):
    rules = [(1, "allow", "/p/2/ok$"), (1, "disallow", "/p/2*")]
    got = _verdicts(
        spark, rules, [(1, 1, "/p/2/ok"), (2, 1, "/p/2/ok/more")]
    )
    assert got == {(1,): (True, "/p/2/ok$"), (2,): (False, "/p/2*")}


def test_robots_verdict_no_match_is_allowed_with_empty_rule(spark):
    rules = [(1, "disallow", "/q/")]
    # a path no rule matches, and a host with no rules at all
    got = _verdicts(spark, rules, [(1, 1, "/p/x"), (2, 9, "/q/x")])
    assert got == {(1,): (True, ""), (2,): (True, "")}


def test_robots_verdict_two_keys_do_not_fan_out(spark):
    """The x51 shape: several URLs per doc keyed by (doc, idx), each
    matching several rules — one output row per frontier row."""
    rules = [
        (1, "disallow", "/q/"),
        (1, "allow", "/q/open"),
        (1, "disallow", "/q*"),
    ]
    urls = [
        (d, i, 1, p)
        for d in range(3)
        for i, p in enumerate(["/q/open1", "/q/x", "/r"])
    ]
    got = _verdicts(spark, rules, urls, keys=("doc", "idx"))
    for d in range(3):
        assert got[(d, 0)] == (True, "/q/open")
        assert got[(d, 1)] == (False, "/q/")
        assert got[(d, 2)] == (True, "")
