"""Builtin miner parity tests on reference fixture texts (FIXTURES.md §2)."""

import numpy as np

from nativeextractor_spark.functions.unicode import char_byte_offsets
from nativeextractor_spark.miners import (
    AliasDict,
    EmailMiner,
    GazetteerMiner,
    RegexMiner,
    TEL_NO_PATTERN,
    UrlMiner,
)

FIXTURE_TEST_TXT = (
    "4444222244442222\n"
    "4444.2222.4444.2222\n"
    "řřřř blah@seznam.com;+čččč\n"
    "\n"
    "a http://www.root.cz?limit=20 xxd\n"
    "\n"
)

FIXTURE_REGEX_0 = "asds ad +919367788755 asdad\nadsadas test@gmail.com asds sdščččč---"


def test_email_on_fixture():
    occs = list(EmailMiner().find(FIXTURE_TEST_TXT))
    assert [FIXTURE_TEST_TXT[o.ustart : o.uend] for o in occs] == ["blah@seznam.com"]
    assert occs[0].label == "EMAIL"


def test_url_on_fixture():
    occs = list(UrlMiner().find(FIXTURE_TEST_TXT))
    assert [FIXTURE_TEST_TXT[o.ustart : o.uend] for o in occs] == [
        "http://www.root.cz?limit=20"
    ]
    assert occs[0].label == "URL"


def test_dual_offsets_multibyte():
    """occurrence_t keeps byte pos/len AND unicode upos/ulen (occurrence.h:23-26)."""
    occ = next(iter(EmailMiner().find(FIXTURE_TEST_TXT)))
    offsets = char_byte_offsets(FIXTURE_TEST_TXT)
    bpos = int(offsets[occ.ustart])
    blen = int(offsets[occ.uend] - offsets[occ.ustart])
    assert bpos == FIXTURE_TEST_TXT.encode("utf-8").find(b"blah@seznam.com")
    assert bpos == 46 and occ.ustart == 42  # 4×2-byte ř shift bytes ahead of chars
    assert blen == len("blah@seznam.com")


def test_regex_miner_fixture():
    """tests/regex_miner.c:71-91 — exactly 2 occurrences on fixture_0."""
    email = RegexMiner("EMAIL", r"[^@ \t\r\n]+@[^@ \t\r\n]+\.[^@ \t\r\n]+")
    tel = RegexMiner("TEL_NO", TEL_NO_PATTERN)
    occs = list(email.find(FIXTURE_REGEX_0)) + list(tel.find(FIXTURE_REGEX_0))
    got = {(o.label, FIXTURE_REGEX_0[o.ustart : o.uend]) for o in occs}
    assert got == {("EMAIL", "test@gmail.com"), ("TEL_NO", "+919367788755")}


def test_email_greedy_rejections():
    """naive_email_miner.c:66-115 — greedy domain scan, no backtracking."""
    m = EmailMiner()
    assert list(m.find("a@b.com.")) == []  # trailing dot → empty last subdomain
    assert list(m.find("a@b.c")) == []  # last subdomain < 2 bytes
    assert [o for o in m.find("a@b..com")]  # empty middle subdomain OK
    assert list(m.find("a@@b.com")) == []  # no valid left at 2nd @


def test_email_last_subdomain_bytes_rule():
    """Subdomain length is measured in BYTES (:105-112): 'č' is 2 UTF-8 bytes."""
    occs = list(EmailMiner().find("a@b.č x"))
    assert len(occs) == 1


def test_gazetteer_prefix_ratio():
    """ner.c:29-34 — token matches iff prefix ratio >= 0.75."""
    d = AliasDict.from_aliases(["prague", "bratislava"])
    miner = GazetteerMiner(d, label="LOC")
    # 'pragu' (5 chars) has 5-byte common prefix with 'prague'... token ratio:
    # matched/len(token): 'pragu' → 5/5=1.0 ✓; 'praXX' → 3/5=0.6 ✗
    occs = list(miner.find("pragu praXX prague bratislav"))
    strs = ["pragu praXX prague bratislav"[o.ustart : o.uend] for o in occs]
    assert strs == ["pragu", "prague", "bratislav"]  # 9/10=0.9 ≥ 0.75


def test_gazetteer_token_is_nonspace_run():
    """NER tokens are whitespace-delimited (not delimiter-delimited): a token
    may contain punctuation (ner.c:26 uses not_isspace)."""
    d = AliasDict.from_aliases(["root.cz"])
    occs = list(GazetteerMiner(d).find("see root.cz now"))
    assert len(occs) == 1 and occs[0].ustart == 4


def test_alias_payload_lookup():
    d = AliasDict.from_aliases(["acme", "acme corp"], [7, 7])
    assert d.lookup(b"acme") == 7
    assert d.lookup(b"missing") is None
    assert d.longest_prefix([b"acme!!"])[0] == 4


def test_person_org_heuristic_miners():
    """M5 heuristic person/org miners (reference ships these in a non-free
    plugin; public-pattern reimplementation)."""
    from nativeextractor_spark.miners.builtin import OrgNameMiner, PersonNameMiner

    t = "Alice Johnson met Bob T. Stone at Acme Widget Corp near Globex Industries."
    per = [t[o.ustart : o.uend] for o in PersonNameMiner().find(t)]
    org = [t[o.ustart : o.uend] for o in OrgNameMiner().find(t)]
    assert per == ["Alice Johnson", "Bob T. Stone"]
    assert org == ["Acme Widget Corp", "Globex Industries"]
    # lowercase / shouting text doesn't trigger
    assert list(PersonNameMiner().find("john smith AND MARY JONES")) == []


def test_gazetteer_scan_parity_semantics():
    """ner.c:25-28 under extractor.c:59-92, traced precisely:

    - MATCH_DELIMITER(Left, Right) consumes ONE delimiter at the scan pos
      (or passes at BOF), so a BOF run starting with punctuation strips
      exactly one leading char: "(Obama" -> candidate "Obama".
    - miner_c_run never resets the stream on failure and the extractor
      resumes from the cursor (extractor.c:85-88), so a failed candidate
      skips its whole non-space run: "New-York" never probes "York".
    - the 0.75 ratio tolerates trailing bytes: "(Praha)" -> "Praha)" (5/6).
    """
    d = AliasDict.from_aliases(["Obama", "York", "Praha"])
    m = GazetteerMiner(d)

    def got(t):
        return [t[o.ustart : o.uend] for o in m.find(t)]

    assert got("(Obama") == ["Obama"]
    assert got("((Obama") == []  # only ONE delimiter consumed at BOF
    assert got("New-York") == []  # failure-advance: internal '-' not probed
    assert got("x (Obama") == []  # token after space is "(Obama", ratio 0
    assert got("(Praha)") == ["Praha)"]  # ratio 5/6 >= 0.75
    assert got("Obama in York") == ["Obama", "York"]


def test_email_end_last_advances_only_on_success():
    """miner.c:271 — end_last = end happens INSIDE make_occurrence after the
    guards, so a failed attempt (validate_domain short-TLD fail) leaves
    end_last unchanged and a later '@' may still use that region as left
    context: 'x@a.b@c.de' emits 'a.b@c.de' (the first attempt fails on the
    1-byte 'b' subdomain but must not consume through m.end())."""
    text = "x@a.b@c.de"
    occs = list(EmailMiner().find(text))
    assert [text[o.ustart : o.uend] for o in occs] == ["a.b@c.de"]


def test_email_adjacent_at_signs_no_clamped_emission():
    """mark_start parity (miner.c:36-38): a left run that would cross the
    previous occurrence's end fails the attempt rather than emitting a
    clamped occurrence."""
    text = "a@b.cdx@y.zw"
    occs = list(EmailMiner().find(text))
    # the greedy domain consumes 'b.cdx'; the second '@' has no left room
    assert [text[o.ustart : o.uend] for o in occs] == ["a@b.cdx"]
