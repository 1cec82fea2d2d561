"""Golden tests for the pure-Python extraction kernels.

Fixture HTML is hand-written to exercise every XPath in the reference config
(/root/reference/config/configs/1900comvn.yml:7-36) including fallback,
missing-field, href-vs-text, whitespace and positional-predicate edge cases
(FIXTURES.md §5).  Expected values are hand-derived from the documented
reference semantics, NOT computed by the code under test.
"""

import pytest

from pcrawler_spark.html import parse_html, xpath
from pcrawler_spark.kernels import (
    canonicalize_url,
    extract_company_details,
    extract_company_links,
    extract_emails,
    extract_pagination_links,
    extract_text,
    normalize_phone,
    split_phones,
    url_host,
)
from pcrawler_spark.kernels.links import build_page_url, page_number

DETAIL_HTML = """
<html><body>
<h1 class="company-detail-name"> <span>  Công ty TNHH Ví dụ </span><span>extra</span></h1>
<div class="box-body">
  <div class="item"><div class="desc">  12 Lê Lợi, Quận 1, TP.HCM </div></div>
  <div class="item"><div class="desc">WRONG second item</div></div>
</div>
<div class="box-caption"><p>
  <a href="tel:+84283829xxxx"> 028 3829 xxxx </a>
  <a href="https://vidu.example.vn/home">vidu.example.vn</a>
</p></div>
<div class="company-subdetail">
  <div class="company-subdetail-info"><span>A</span><span>WRONG first info</span></div>
  <div class="company-subdetail-info"><span>Quy mô</span><span>100-499 nhân viên</span></div>
</div>
<ul class="company-details">
  <li><label>Thành lập</label><span> 2012 </span></li>
  <li><label>Ngành</label><a href="/nganh/abc">Nhà hàng / Khách sạn</a></li>
  <li><label>Doanh thu</label><span>10-50 tỷ</span></li>
</ul>
<div class="social-media-container">
  <a href="https://facebook.com/vidu">fb</a>
  <a href="https://linkedin.com/company/vidu">in</a>
  <a href="https://tiktok.com/@vidu">tt</a>
</div>
</body></html>
"""

FALLBACK_HTML = """
<html><body>
<h1 class="company-detail-name"><span>Fallback Co</span></h1>
<ul class="company-details">
  <li><label>Trụ sở chính</label><span>99 Trần Hưng Đạo, Hà Nội</span></li>
</ul>
</body></html>
"""


class TestDetailsExtraction:
    def test_all_fields(self):
        rec = extract_company_details(DETAIL_HTML, company_url="https://1900.com.vn/x-tong-quan.html")
        assert rec["company_name"] == "Công ty TNHH Ví dụ"
        assert rec["address"] == "12 Lê Lợi, Quận 1, TP.HCM"
        assert rec["phone"] == "028 3829 xxxx"  # text_content, stripped
        assert rec["website"] == "https://vidu.example.vn/home"  # href, not text
        assert rec["facebook"] == "https://facebook.com/vidu"  # href field
        assert rec["linkedin"] == "in"  # text_content field, NOT href
        assert rec["created_year"] == "2012"
        assert rec["industry"] == "Nhà hàng / Khách sạn"
        assert rec["revenue"] == "10-50 tỷ"
        assert rec["scale"] == "100-499 nhân viên"
        assert rec["youtube"] is None
        assert rec["instagram"] is None
        assert rec["company_url"] == "https://1900.com.vn/x-tong-quan.html"

    def test_linkedin_is_text_not_href(self):
        # only website/facebook take href (company_details_extractor.py:85-89);
        # linkedin/tiktok/etc fall through to text_content
        rec = extract_company_details(DETAIL_HTML)
        assert rec["linkedin"] == "in"
        assert rec["tiktok"] == "tt"

    def test_address_fallback_fires(self):
        rec = extract_company_details(FALLBACK_HTML)
        assert rec["address"] == "99 Trần Hưng Đạo, Hà Nội"
        assert rec["company_name"] == "Fallback Co"
        assert rec["website"] is None

    def test_positional_predicate_is_per_parent(self):
        # //div[@class='item'][1] must pick the FIRST item, not the second
        rec = extract_company_details(DETAIL_HTML)
        assert "WRONG" not in (rec["address"] or "")
        assert "WRONG" not in (rec["scale"] or "")

    def test_unparseable_html(self):
        rec = extract_company_details(None, company_name="X", company_url="u")
        assert rec["company_name"] == "X"
        assert all(rec[f] is None for f in rec if f not in ("company_name", "company_url"))
        rec2 = extract_company_details("", company_name="Y")
        assert rec2["address"] is None

    def test_bytes_input(self):
        rec = extract_company_details(DETAIL_HTML.encode("utf-8"))
        assert rec["address"] == "12 Lê Lợi, Quận 1, TP.HCM"


class TestXPathSemantics:
    def test_contains_text_vietnamese(self):
        root = parse_html("<ul class='company-details'><li><label>Thành lập năm</label><span>2001</span></li></ul>")
        nodes = xpath(root, "//ul[contains(@class,'company-details')]//li[label[contains(text(),'Thành lập')]]/span")
        assert len(nodes) == 1 and nodes[0].text_content() == "2001"

    def test_positional_second(self):
        root = parse_html(
            "<div class='company-subdetail x'><div class='company-subdetail-info'><span>a</span><span>b</span></div>"
            "<div class='company-subdetail-info'><span>c</span><span>d</span></div></div>"
        )
        nodes = xpath(root, "//div[contains(@class,'company-subdetail')]//div[contains(@class,'company-subdetail-info')][2]//span[2]")
        assert [n.text_content() for n in nodes] == ["d"]

    def test_starts_with_href(self):
        root = parse_html("<div class='box-caption'><p><a href='tel:123'>t</a><a href='http://x'>w</a></p></div>")
        assert xpath(root, "//div[@class='box-caption']/p//a[starts-with(@href,'http')]")[0].get("href") == "http://x"

    def test_attr_tail(self):
        root = parse_html("<div><a href='u1'>1</a><a>2</a><a href='u3'>3</a></div>")
        assert xpath(root, "//a/@href") == ["u1", "u3"]

    def test_document_order_and_dedup(self):
        root = parse_html("<div><div><span>1</span></div><span>2</span></div>")
        assert [n.text_content() for n in xpath(root, "//span")] == ["1", "2"]

    def test_result_is_not_the_tag_index(self):
        # '//span' is answered from the root's tag index; mutating one
        # result must not reach the index a later query reads
        root = parse_html("<div><span>1</span><p><span>2</span></p></div>")
        first = xpath(root, "//span")
        first.reverse()
        first.append(first[0])
        assert [n.text_content() for n in xpath(root, "//span")] == ["1", "2"]
        assert [n.text_content() for n in xpath(root, "//p/span")] == ["2"]


class TestEmails:
    def test_basic_and_invalid(self):
        html = (
            "<p>Contact: sales@vidu.vn or SUPPORT@vidu.corp.vn.</p>"
            "<p>noreply@vidu.vn no-reply@x.vn info@example.com bot@12.34</p>"
        )
        # example.com / noreply / no-reply / numeric-domain all rejected
        # (email_extractor.py:29); sorted ascii order puts uppercase first
        assert extract_emails(html) == ["SUPPORT@vidu.corp.vn", "sales@vidu.vn"]

    def test_duplicates_and_sorting(self):
        html = "a@b.vn a@b.vn c@d.com"
        assert extract_emails(html) == ["a@b.vn", "c@d.com"]

    def test_empty(self):
        assert extract_emails("<p>no emails here</p>") == []
        assert extract_emails(None) == []

    def test_bytes(self):
        assert extract_emails(b"x@y.vn") == ["x@y.vn"]


class TestText:
    def test_skips_script_style_and_strips(self):
        html = "<html><head><style>.a{}</style><script>var x=1;</script></head><body><p> A </p><div>B<span>C</span></div></body></html>"
        assert extract_text(html) == "A\nB\nC"

    def test_empty(self):
        assert extract_text("") == ""
        assert extract_text(None) == ""


class TestLinks:
    LISTING = (
        "<ul><li class='page-item'><a class='page-link' href='?page=1'>1</a></li>"
        "<li class='page-item'><a class='page-link' href='?page=2'>2</a></li></ul>"
        "<div><a href='/cong-ty/a-tong-quan.html'>A</a>"
        "<a href='/cong-ty/b-tong-quan.html'>B</a>"
        "<a href='/cong-ty/a-tong-quan.html'>A again</a>"
        "<a href='/other.html'>other</a></div>"
    )

    def test_company_links_first_wins(self):
        assert extract_company_links(self.LISTING) == [
            "/cong-ty/a-tong-quan.html",
            "/cong-ty/b-tong-quan.html",
        ]

    def test_pagination(self):
        assert extract_pagination_links(self.LISTING) == ["?page=1", "?page=2"]

    def test_page_number(self):
        assert page_number("https://x/y?page=7") == 7
        assert page_number("https://x/y/3") == 3
        assert page_number("https://x/y") is None

    def test_build_page_url(self):
        assert build_page_url("https://x/list.html", 2) == "https://x/list.html?page=2"
        assert build_page_url("https://x/list.html?page=2", 5) == "https://x/list.html?page=5"


class TestUrlNorm:
    def test_scheme_added(self):
        assert canonicalize_url("www.x.vn/a") == "https://www.x.vn/a"

    def test_invalid(self):
        assert canonicalize_url("N/A") is None
        assert canonicalize_url("") is None
        assert canonicalize_url(None) is None
        assert canonicalize_url("ftp://x.vn/a") is None

    def test_canonical_forms(self):
        assert canonicalize_url("HTTPS://X.VN:443/a#frag") == "https://x.vn/a"
        assert canonicalize_url("http://x.vn:8080/") == "http://x.vn:8080/"
        assert canonicalize_url("https://x.vn") == "https://x.vn/"
        assert canonicalize_url(" https://x.vn/a?q=1 ") == "https://x.vn/a?q=1"

    def test_host(self):
        assert url_host("https://Sub.X.vn/a") == "sub.x.vn"


class TestPhones:
    def test_nine_digit_mobile(self):
        assert normalize_phone("912345678") == "+84912345678"

    def test_leading_zero_mobile(self):
        assert normalize_phone("0912 345 678") == "+84912345678"
        assert normalize_phone("0329999999") == "+84329999999"

    def test_hanoi_landline(self):
        assert normalize_phone("02438221234") == "+842438221234"

    def test_bare_84(self):
        assert normalize_phone("84912345678") == "+84912345678"

    def test_plus84_valid(self):
        assert normalize_phone("+84912345678") == "+84912345678"

    def test_international_passthrough(self):
        assert normalize_phone("+14155552671") == "+14155552671"

    def test_junk(self):
        assert normalize_phone("abc") is None
        assert normalize_phone("") is None
        assert normalize_phone(None) is None
        assert normalize_phone("12345") is None

    def test_split_multi(self):
        assert split_phones("0912345678; 0329999999 / junk") == ["+84912345678", "+84329999999"]

    def test_split_separator_tiers(self):
        # '-' is a separator tier, so '091-234-5678' splits then re-merges nothing:
        # each piece is too short -> dropped
        assert split_phones("0912345678|+14155552671") == ["+84912345678", "+14155552671"]


def test_parse_robots():
    from pcrawler_spark.kernels.robots import parse_robots

    delay, dis = parse_robots(
        "User-agent: Googlebot\nUser-agent: *\nDisallow: /a\n\n"
        "User-agent: Bingbot\nDisallow: /b\n\nUser-agent: *\nDisallow: /c\nCrawl-delay: 1.5\n"
    )
    assert delay == 1.5 and dis == ["/a", "/c"]
    # specific-agent group ignored entirely
    assert parse_robots("User-agent: Googlebot\nDisallow: /x\nCrawl-delay: 9\n") == (None, [])
    # comments, empty disallow, unknown fields, case-insensitive fields
    delay, dis = parse_robots(
        "# hdr\nUSER-AGENT: * # inline\nDISALLOW: /X # note\nDisallow:\nAllow: /pub\ncrawl-DELAY: 3\n"
    )
    assert delay == 3.0 and dis == ["/X"]
    # rules before any group are ignored; bytes input; empty body
    assert parse_robots(b"Disallow: /orphan\nUser-agent: *\nDisallow: /ok\n") == (None, ["/ok"])
    assert parse_robots("") == (None, [])
    assert parse_robots(None) == (None, [])
    # invalid crawl-delay ignored
    assert parse_robots("User-agent: *\nCrawl-delay: soon\nDisallow: /d\n") == (None, ["/d"])


def test_vendored_international_phone_metadata():
    """Vendored public E.164/libphonenumber metadata subset: validity
    classification across 11 common country codes, and the reference's
    keep-long-plus-numbers-verbatim control flow
    (e164_phone_normalizer.py:248-311)."""
    from pcrawler_spark.kernels.phones import is_valid_international, normalize_phone

    valid = ["+14155552671", "+442079460958", "+447911123456", "+33123456789",
             "+493012345678", "+61212345678", "+6591234567", "+66812345678",
             "+81312345678", "+821012345678", "+8613812345678", "+919876543210"]
    for v in valid:
        assert is_valid_international(v), v
    invalid = ["+15551234567", "+11234567890", "+4407911", "+6512345678",
               "+911234567890", "+86231"]
    for v in invalid:
        assert not is_valid_international(v), v
    # r4 extension: 18 more vendored calling codes (29 total)
    valid_r4 = ["+79161234567", "+77011234567",   # RU mobile, KZ mobile
                "+31612345678", "+32470123456", "+34612345678",
                "+390612345678", "+393331234567",  # IT geo (leading 0) + mobile
                "+41791234567", "+4315812345", "+46701234567",
                "+4722345678", "+48512345678", "+525512345678",
                "+5511987654321"[:14],             # BR 11-digit mobile
                "+60123456789", "+6281234567890", "+639171234567",
                "+85221234567", "+886912345678", "+971501234567",
                "+97142345678"]
    for v in valid_r4:
        assert is_valid_international(v), v
    invalid_r4 = ["+71234567890",    # RU/KZ NSN cannot start 1/2
                  "+310123456789",   # NL NSN cannot start 0
                  "+34123456789",    # ES NSN starts 6-9
                  "+4712345678",     # NO NSN starts 2-9
                  "+85212345678",    # HK 8 digits only (9 given)
                  "+97111234567"]    # AE NSN cannot start 1
    for v in invalid_r4:
        assert not is_valid_international(v), v
    # r5 extension: 25 more vendored calling codes (54 total)
    valid_r5 = ["+201012345678", "+20223456789",     # EG mobile + Cairo geo
                "+27821234567", "+302101234567", "+306912345678",
                "+36301234567", "+40721234567", "+4532123456",
                "+51987654321", "+5112345678",       # PE mobile + Lima geo
                "+5491112345678", "+541112345678",   # AR +9 mobile + geo
                "+56912345678", "+573001234567", "+576012345678",
                "+64211234567", "+6493456789",       # NZ mobile + Auckland
                "+905321234567", "+923001234567",
                "+212612345678", "+2348021234567", "+254712345678",
                "+351212345678", "+351912345678",    # PT geo + mobile
                "+35312345678", "+358401234567",
                "+380671234567", "+420601123456", "+421905123456",
                "+8801712345678", "+966501234567", "+972501234567",
                "+97235551234"]                      # IL Tel Aviv geo
    for v in valid_r5:
        assert is_valid_international(v), v
    invalid_r5 = ["+27021234567",    # ZA NSN cannot start 0
                  "+301912345678",   # GR NSN starts 2 or 6
                  "+40121234567",    # RO NSN starts 2/3/7
                  "+45123456789",    # DK is exactly 8 NSN digits
                  "+571012345678",   # CO NSN starts 3 or 6
                  "+906321234567",   # TR NSN starts 2-5
                  "+212912345678",   # MA NSN starts 5-8
                  "+380271234567",   # UA NSN starts 3-9
                  "+421105123456",   # SK NSN starts 2-9
                  "+966601234567"]   # SA NSN starts 5 or 1
    for v in invalid_r5:
        assert not is_valid_international(v), v
    # r5b extension: 32 more vendored calling codes (88 total)
    valid_r5b = ["+93701234567", "+94712345678", "+959123456789",
                 "+989123456789", "+213551234567", "+21671234567",
                 "+221771234567", "+233241234567", "+255712345678",
                 "+256701234567", "+355691234567", "+359881234567",
                 "+37061234567", "+37121234567", "+37251234567",
                 "+375291234567", "+381641234567", "+385911234567",
                 "+38631234567", "+85366123456", "+85512345678",
                 "+8562012345678", "+9613123456", "+962791234567",
                 "+9647912345678", "+96550123456", "+96891234567",
                 "+97336123456", "+97455123456", "+97688123456",
                 "+9779812345678", "+994501234567", "+995551234567",
                 "+998901234567"]
    for v in valid_r5b:
        assert is_valid_international(v), v
    invalid_r5b = ["+93101234567",    # AF NSN starts 2-7
                   "+213912345678",   # DZ 9-digit NSN starts 5-7
                   "+37001234567",    # LT NSN starts 3-9
                   "+853121234567",   # MO is exactly 8 NSN digits
                   "+96531234567",    # KW NSN starts 1/2/5/6/9
                   "+96811234567",    # OM NSN starts 2/7/9
                   "+97411234567",    # QA NSN starts 2-7
                   "+99501234567"]    # GE NSN starts 2-9
    for v in invalid_r5b:
        assert not is_valid_international(v), v
    # r5c extension: 60 more vendored calling codes (148 total)
    valid_r5c = ["+5351234567",       # CU mobile (8-digit NSN, leading 5)
                 "+584121234567",     # VE mobile
                 "+211912345678",     # SS
                 "+218912345678",     # LY mobile
                 "+23056123456",      # MU 8-digit
                 "+237670123456",     # CM mobile
                 "+243991234567",     # CD
                 "+244923123456",     # AO mobile
                 "+250781234567",     # RW mobile
                 "+251911234567",     # ET mobile
                 "+258821234567",     # MZ mobile
                 "+260971234567",     # ZM mobile
                 "+263771234567",     # ZW mobile
                 "+26776123456",      # BW mobile
                 "+352621123456",     # LU mobile
                 "+3546101234",       # IS
                 "+35699123456",      # MT mobile
                 "+35799123456",      # CY mobile
                 "+37369123456",      # MD mobile
                 "+37455123456",      # AM mobile
                 "+38267123456",      # ME mobile
                 "+38344123456",      # XK mobile
                 "+38761123456",      # BA mobile
                 "+38970123456",      # MK mobile
                 "+50251234567",      # GT mobile
                 "+50370123456",      # SV mobile
                 "+50498765432",      # HN mobile
                 "+50588123456",      # NI mobile
                 "+50687123456",      # CR mobile
                 "+50769876543",      # PA mobile
                 "+50934123456",      # HT mobile
                 "+59171234567",      # BO mobile
                 "+593991234567",     # EC mobile
                 "+595971123456",     # PY mobile
                 "+59894123456",      # UY mobile
                 "+67077234567",      # TL mobile
                 "+6737123456",       # BN
                 "+6799912345",       # FJ mobile
                 "+9607712345",       # MV mobile
                 "+963944567890",     # SY mobile
                 "+967712345678",     # YE mobile
                 "+970599123456",     # PS mobile
                 "+97517123456",      # BT mobile
                 "+992931234567",     # TJ
                 "+99365123456",      # TM
                 "+996700123456"]     # KG
    for v in valid_r5c:
        assert is_valid_international(v), v
    invalid_r5c = ["+96011234567",    # MV NSN starts 3/6/7/9
                   "+50712345678",    # PA 8-digit NSN must start 6
                   "+59811234567",    # UY NSN starts 2/4/9
                   "+25411112222333", # KE pattern bound (too long)
                   "+5312345",        # CU below the E.164 8-digit floor
                   "+99610123456",    # KG NSN starts 3-9
                   "+58312345678"]    # VE NSN starts 2/4
    for v in invalid_r5c:
        assert not is_valid_international(v), v
    # r6 extension: the FINAL 45 assigned ITU codes (206 total — the
    # calling-code list is now complete; island/territory plans)
    valid_r6 = ["+2250701234567",     # CI 10-digit (2021 plan)
                "+2290151234578",     # BJ 10-digit (2022 plan)
                "+22990123456",       # BJ legacy 8-digit
                "+2399912345",        # ST
                "+240222123456",      # GQ
                "+24106123456",       # GA
                "+242061234567",      # CG
                "+245955123456",      # GW mobile
                "+2463123456",        # IO
                "+24740123",          # AC
                "+252612345678",      # SO mobile
                "+262692123456",      # RE mobile
                "+2693212345",        # KM
                "+29022158",          # SH
                "+2975612345",        # AW
                "+298212345",         # FO
                "+299321234",         # GL
                "+378549123456",      # SM
                "+50021234",          # FK
                "+5012234567",        # BZ
                "+508412345",         # PM
                "+590690123456",      # GP mobile
                "+5926212345",        # GY
                "+594694123456",      # GF mobile
                "+596696123456",      # MQ mobile
                "+597741234",         # SR
                "+59995123456",       # CW mobile
                "+672312345",         # NF
                "+6745551234",        # NR
                "+67677123",          # TO
                "+67774123",          # SB
                "+67859123",          # VU
                "+6807771234",        # PW
                "+681501234",         # WF
                "+68223456",          # CK
                "+6834123456",        # NU 7-digit (4-digit NSN is below the global 8-digit E.164 floor)
                "+68572123",          # WS
                "+68672123456",       # KI 8-digit
                "+687751234",         # NC
                "+68890123",          # TV
                "+68987123456",       # PF 8-digit
                "+6907212345",        # TK 7-digit (4-digit NSN is below the 8-digit floor)
                "+6913501234",        # FM
                "+6922351234",        # MH
                "+8502181234567",     # KP
                "+870773123456"]      # Inmarsat
    for v in valid_r6:
        assert is_valid_international(v), v
    invalid_r6 = ["+225123456789",    # CI 10-digit NSN starts 0 or 2
                  "+2463123",         # IO is exactly 7 NSN digits
                  "+2971212345",      # AW NSN starts 2/5-9
                  "+59069123456",     # GP NSN is [56]9 + 7
                  "+6829123",         # CK NSN starts 2-8 (5 digits)
                  "+87012345678"]     # Inmarsat NSN is 7 + 8 digits
    for v in invalid_r6:
        assert not is_valid_international(v), v
    # reference control flow: >10-char + numbers are KEPT even when invalid
    assert normalize_phone("+15551234567") == "+15551234567"
    # short + numbers need a genuinely valid NSN
    assert normalize_phone("+65912345") is None
    assert normalize_phone("+987654321") is None   # IR cc, 7-digit NSN → invalid
    # bare long digits are promoted to + and kept
    assert normalize_phone("8613812345678") == "+8613812345678"
