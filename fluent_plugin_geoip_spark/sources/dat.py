"""Pure-Python legacy GeoIP (GeoLiteCity ``.dat``) reader and writer.

The reference's DEFAULT backend is ``geoip`` with a ``geoip_database`` path
to a legacy ``.dat`` file (/root/reference/lib/fluent/plugin/filter_geoip.rb:
37, 204-217 — ``GeoIP::City.new(@geoip_database, :memory, false)``; its CI
ships ``data/GeoLiteCity.dat``, /root/reference/.MISSING_LARGE_BLOBS). This
module makes that config surface real: it implements the PUBLIC legacy GeoIP
binary format from scratch — a 32-bit binary tree of little-endian 3-byte
records over the IPv4 space, variable-length city records, and a trailing
structure-info block marked by ``\\xff\\xff\\xff``. No code is shared with
libGeoIP or any gem; the layout facts below are the published format:

- the file ends with a structure-info block: scan backward from EOF (at most
  20 positions) for the 3-byte ``0xFFFFFF`` marker; the next byte is the
  database edition; city editions then carry the node count ("database
  segments") as 3 little-endian bytes;
- the tree is ``segments`` nodes of two 3-byte little-endian records
  (left = bit 0, right = bit 1), walked MSB-first over the 32-bit address
  by the trie walk the ``.mmdb`` reader shares (``sources/trie.py``, which
  also builds the writer's tree);
- a record value ``< segments`` is a child node index; ``== segments`` is a
  miss; ``> segments`` addresses a data record at absolute file offset
  ``value + (2*3 - 1) * segments``;
- a city record is: country index byte; region, city, postal code as
  NUL-terminated ISO-8859-1 strings; latitude and longitude as 3-byte
  little-endian fixed-point ``round((v + 180) * 10000)``; REV1 US records
  additionally carry ``dma_code * 1000 + area_code`` as 3 LE bytes;
- the C library stores coordinates in a single-precision float, which is
  where the reference's golden ``37.4192008972168`` (float32 of 37.4192,
  test_filter_geoip.rb:1024) comes from — reproduced here with np.float32.

Deliberate decode conventions (documented divergences from libGeoIP, which
cannot represent "absent"): a zero lat/lon field decodes to absent rather
than the C value ``-180.0`` (no real row sits at -180; our fixture writer
emits zeros for absent coordinates); country index 0 (``--``) and empty
strings decode to absent, matching the attr-is-nil semantics the enrich
kernel and the reference's nil-placeholder rules are built on; a zero
dma/area combo decodes to absent rather than 0/0.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import trie

STRUCTURE_INFO_MAX_SIZE = 20
MARKER = b"\xff\xff\xff"
RECORD_LENGTH = 3                 # standard segment record width (bytes)
COUNTRY_BEGIN = 16776960          # implicit segments of the country edition

# database editions (public libGeoIP numbering)
COUNTRY_EDITION = 1
CITY_EDITION_REV1 = 2
CITY_EDITION_REV0 = 6
_CITY_EDITIONS = (CITY_EDITION_REV0, CITY_EDITION_REV1)


class DATError(ValueError):
    """Malformed or unsupported legacy .dat content."""


# ---------------------------------------------------------------------------
# the public legacy country table: index → ISO code, in the C library's
# canonical order (this is reference data, not code — the same 2-letter
# sequence every legacy reader hard-codes; "--"=0 means no country,
# AP/EU/A1/A2/O1 are the legacy pseudo-countries)
# ---------------------------------------------------------------------------

COUNTRY_CODES = (
    "--", "AP", "EU", "AD", "AE", "AF", "AG", "AI", "AL", "AM", "CW",
    "AO", "AQ", "AR", "AS", "AT", "AU", "AW", "AZ", "BA", "BB",
    "BD", "BE", "BF", "BG", "BH", "BI", "BJ", "BM", "BN", "BO",
    "BR", "BS", "BT", "BV", "BW", "BY", "BZ", "CA", "CC", "CD",
    "CF", "CG", "CH", "CI", "CK", "CL", "CM", "CN", "CO", "CR",
    "CU", "CV", "CX", "CY", "CZ", "DE", "DJ", "DK", "DM", "DO",
    "DZ", "EC", "EE", "EG", "EH", "ER", "ES", "ET", "FI", "FJ",
    "FK", "FM", "FO", "FR", "SX", "GA", "GB", "GD", "GE", "GF",
    "GH", "GI", "GL", "GM", "GN", "GP", "GQ", "GR", "GS", "GT",
    "GU", "GW", "GY", "HK", "HM", "HN", "HR", "HT", "HU", "ID",
    "IE", "IL", "IN", "IO", "IQ", "IR", "IS", "IT", "JM", "JO",
    "JP", "KE", "KG", "KH", "KI", "KM", "KN", "KP", "KR", "KW",
    "KY", "KZ", "LA", "LB", "LC", "LI", "LK", "LR", "LS", "LT",
    "LU", "LV", "LY", "MA", "MC", "MD", "MG", "MH", "MK", "ML",
    "MM", "MN", "MO", "MP", "MQ", "MR", "MS", "MT", "MU", "MV",
    "MW", "MX", "MY", "MZ", "NA", "NC", "NE", "NF", "NG", "NI",
    "NL", "NO", "NP", "NR", "NU", "NZ", "OM", "PA", "PE", "PF",
    "PG", "PH", "PK", "PL", "PM", "PN", "PR", "PS", "PT", "PW",
    "PY", "QA", "RE", "RO", "RU", "RW", "SA", "SB", "SC", "SD",
    "SE", "SG", "SH", "SI", "SJ", "SK", "SL", "SM", "SN", "SO",
    "SR", "ST", "SV", "SY", "SZ", "TC", "TD", "TF", "TG", "TH",
    "TJ", "TK", "TM", "TN", "TO", "TL", "TR", "TT", "TV", "TW",
    "TZ", "UA", "UG", "UM", "US", "UY", "UZ", "VA", "VC", "VE",
    "VG", "VI", "VN", "VU", "WF", "WS", "YE", "YT", "RS", "ZA",
    "ZM", "ME", "ZW", "A1", "A2", "O1", "AX", "GG", "IM", "JE",
    "BL", "MF", "BQ", "SS", "O1",
)

# ISO 3166 alpha-2 → (alpha-3, English name), covering every code above.
# Pseudo-country triples follow the legacy C table's spellings.
COUNTRY_INFO = {
    "--": ("--", "N/A"), "AP": ("AP", "Asia/Pacific Region"),
    "EU": ("EU", "Europe"), "A1": ("A1", "Anonymous Proxy"),
    "A2": ("A2", "Satellite Provider"), "O1": ("O1", "Other Country"),
    "AD": ("AND", "Andorra"), "AE": ("ARE", "United Arab Emirates"),
    "AF": ("AFG", "Afghanistan"), "AG": ("ATG", "Antigua and Barbuda"),
    "AI": ("AIA", "Anguilla"), "AL": ("ALB", "Albania"),
    "AM": ("ARM", "Armenia"), "CW": ("CUW", "Curacao"),
    "AO": ("AGO", "Angola"), "AQ": ("ATA", "Antarctica"),
    "AR": ("ARG", "Argentina"), "AS": ("ASM", "American Samoa"),
    "AT": ("AUT", "Austria"), "AU": ("AUS", "Australia"),
    "AW": ("ABW", "Aruba"), "AZ": ("AZE", "Azerbaijan"),
    "BA": ("BIH", "Bosnia and Herzegovina"), "BB": ("BRB", "Barbados"),
    "BD": ("BGD", "Bangladesh"), "BE": ("BEL", "Belgium"),
    "BF": ("BFA", "Burkina Faso"), "BG": ("BGR", "Bulgaria"),
    "BH": ("BHR", "Bahrain"), "BI": ("BDI", "Burundi"),
    "BJ": ("BEN", "Benin"), "BM": ("BMU", "Bermuda"),
    "BN": ("BRN", "Brunei Darussalam"), "BO": ("BOL", "Bolivia"),
    "BR": ("BRA", "Brazil"), "BS": ("BHS", "Bahamas"),
    "BT": ("BTN", "Bhutan"), "BV": ("BVT", "Bouvet Island"),
    "BW": ("BWA", "Botswana"), "BY": ("BLR", "Belarus"),
    "BZ": ("BLZ", "Belize"), "CA": ("CAN", "Canada"),
    "CC": ("CCK", "Cocos (Keeling) Islands"),
    "CD": ("COD", "Congo, The Democratic Republic of the"),
    "CF": ("CAF", "Central African Republic"), "CG": ("COG", "Congo"),
    "CH": ("CHE", "Switzerland"), "CI": ("CIV", "Cote D'Ivoire"),
    "CK": ("COK", "Cook Islands"), "CL": ("CHL", "Chile"),
    "CM": ("CMR", "Cameroon"), "CN": ("CHN", "China"),
    "CO": ("COL", "Colombia"), "CR": ("CRI", "Costa Rica"),
    "CU": ("CUB", "Cuba"), "CV": ("CPV", "Cape Verde"),
    "CX": ("CXR", "Christmas Island"), "CY": ("CYP", "Cyprus"),
    "CZ": ("CZE", "Czech Republic"), "DE": ("DEU", "Germany"),
    "DJ": ("DJI", "Djibouti"), "DK": ("DNK", "Denmark"),
    "DM": ("DMA", "Dominica"), "DO": ("DOM", "Dominican Republic"),
    "DZ": ("DZA", "Algeria"), "EC": ("ECU", "Ecuador"),
    "EE": ("EST", "Estonia"), "EG": ("EGY", "Egypt"),
    "EH": ("ESH", "Western Sahara"), "ER": ("ERI", "Eritrea"),
    "ES": ("ESP", "Spain"), "ET": ("ETH", "Ethiopia"),
    "FI": ("FIN", "Finland"), "FJ": ("FJI", "Fiji"),
    "FK": ("FLK", "Falkland Islands (Malvinas)"),
    "FM": ("FSM", "Micronesia, Federated States of"),
    "FO": ("FRO", "Faroe Islands"), "FR": ("FRA", "France"),
    "SX": ("SXM", "Sint Maarten (Dutch part)"), "GA": ("GAB", "Gabon"),
    "GB": ("GBR", "United Kingdom"), "GD": ("GRD", "Grenada"),
    "GE": ("GEO", "Georgia"), "GF": ("GUF", "French Guiana"),
    "GH": ("GHA", "Ghana"), "GI": ("GIB", "Gibraltar"),
    "GL": ("GRL", "Greenland"), "GM": ("GMB", "Gambia"),
    "GN": ("GIN", "Guinea"), "GP": ("GLP", "Guadeloupe"),
    "GQ": ("GNQ", "Equatorial Guinea"), "GR": ("GRC", "Greece"),
    "GS": ("SGS", "South Georgia and the South Sandwich Islands"),
    "GT": ("GTM", "Guatemala"), "GU": ("GUM", "Guam"),
    "GW": ("GNB", "Guinea-Bissau"), "GY": ("GUY", "Guyana"),
    "HK": ("HKG", "Hong Kong"),
    "HM": ("HMD", "Heard Island and McDonald Islands"),
    "HN": ("HND", "Honduras"), "HR": ("HRV", "Croatia"),
    "HT": ("HTI", "Haiti"), "HU": ("HUN", "Hungary"),
    "ID": ("IDN", "Indonesia"), "IE": ("IRL", "Ireland"),
    "IL": ("ISR", "Israel"), "IN": ("IND", "India"),
    "IO": ("IOT", "British Indian Ocean Territory"),
    "IQ": ("IRQ", "Iraq"), "IR": ("IRN", "Iran, Islamic Republic of"),
    "IS": ("ISL", "Iceland"), "IT": ("ITA", "Italy"),
    "JM": ("JAM", "Jamaica"), "JO": ("JOR", "Jordan"),
    "JP": ("JPN", "Japan"), "KE": ("KEN", "Kenya"),
    "KG": ("KGZ", "Kyrgyzstan"), "KH": ("KHM", "Cambodia"),
    "KI": ("KIR", "Kiribati"), "KM": ("COM", "Comoros"),
    "KN": ("KNA", "Saint Kitts and Nevis"),
    "KP": ("PRK", "Korea, Democratic People's Republic of"),
    "KR": ("KOR", "Korea, Republic of"), "KW": ("KWT", "Kuwait"),
    "KY": ("CYM", "Cayman Islands"), "KZ": ("KAZ", "Kazakhstan"),
    "LA": ("LAO", "Lao People's Democratic Republic"),
    "LB": ("LBN", "Lebanon"), "LC": ("LCA", "Saint Lucia"),
    "LI": ("LIE", "Liechtenstein"), "LK": ("LKA", "Sri Lanka"),
    "LR": ("LBR", "Liberia"), "LS": ("LSO", "Lesotho"),
    "LT": ("LTU", "Lithuania"), "LU": ("LUX", "Luxembourg"),
    "LV": ("LVA", "Latvia"), "LY": ("LBY", "Libya"),
    "MA": ("MAR", "Morocco"), "MC": ("MCO", "Monaco"),
    "MD": ("MDA", "Moldova, Republic of"), "MG": ("MDG", "Madagascar"),
    "MH": ("MHL", "Marshall Islands"), "MK": ("MKD", "Macedonia"),
    "ML": ("MLI", "Mali"), "MM": ("MMR", "Myanmar"),
    "MN": ("MNG", "Mongolia"), "MO": ("MAC", "Macau"),
    "MP": ("MNP", "Northern Mariana Islands"),
    "MQ": ("MTQ", "Martinique"), "MR": ("MRT", "Mauritania"),
    "MS": ("MSR", "Montserrat"), "MT": ("MLT", "Malta"),
    "MU": ("MUS", "Mauritius"), "MV": ("MDV", "Maldives"),
    "MW": ("MWI", "Malawi"), "MX": ("MEX", "Mexico"),
    "MY": ("MYS", "Malaysia"), "MZ": ("MOZ", "Mozambique"),
    "NA": ("NAM", "Namibia"), "NC": ("NCL", "New Caledonia"),
    "NE": ("NER", "Niger"), "NF": ("NFK", "Norfolk Island"),
    "NG": ("NGA", "Nigeria"), "NI": ("NIC", "Nicaragua"),
    "NL": ("NLD", "Netherlands"), "NO": ("NOR", "Norway"),
    "NP": ("NPL", "Nepal"), "NR": ("NRU", "Nauru"),
    "NU": ("NIU", "Niue"), "NZ": ("NZL", "New Zealand"),
    "OM": ("OMN", "Oman"), "PA": ("PAN", "Panama"),
    "PE": ("PER", "Peru"), "PF": ("PYF", "French Polynesia"),
    "PG": ("PNG", "Papua New Guinea"), "PH": ("PHL", "Philippines"),
    "PK": ("PAK", "Pakistan"), "PL": ("POL", "Poland"),
    "PM": ("SPM", "Saint Pierre and Miquelon"),
    "PN": ("PCN", "Pitcairn Islands"), "PR": ("PRI", "Puerto Rico"),
    "PS": ("PSE", "Palestinian Territory"), "PT": ("PRT", "Portugal"),
    "PW": ("PLW", "Palau"), "PY": ("PRY", "Paraguay"),
    "QA": ("QAT", "Qatar"), "RE": ("REU", "Reunion"),
    "RO": ("ROU", "Romania"), "RU": ("RUS", "Russian Federation"),
    "RW": ("RWA", "Rwanda"), "SA": ("SAU", "Saudi Arabia"),
    "SB": ("SLB", "Solomon Islands"), "SC": ("SYC", "Seychelles"),
    "SD": ("SDN", "Sudan"), "SE": ("SWE", "Sweden"),
    "SG": ("SGP", "Singapore"), "SH": ("SHN", "Saint Helena"),
    "SI": ("SVN", "Slovenia"), "SJ": ("SJM", "Svalbard and Jan Mayen"),
    "SK": ("SVK", "Slovakia"), "SL": ("SLE", "Sierra Leone"),
    "SM": ("SMR", "San Marino"), "SN": ("SEN", "Senegal"),
    "SO": ("SOM", "Somalia"), "SR": ("SUR", "Suriname"),
    "ST": ("STP", "Sao Tome and Principe"), "SV": ("SLV", "El Salvador"),
    "SY": ("SYR", "Syrian Arab Republic"), "SZ": ("SWZ", "Swaziland"),
    "TC": ("TCA", "Turks and Caicos Islands"), "TD": ("TCD", "Chad"),
    "TF": ("ATF", "French Southern Territories"), "TG": ("TGO", "Togo"),
    "TH": ("THA", "Thailand"), "TJ": ("TJK", "Tajikistan"),
    "TK": ("TKL", "Tokelau"), "TM": ("TKM", "Turkmenistan"),
    "TN": ("TUN", "Tunisia"), "TO": ("TON", "Tonga"),
    "TL": ("TLS", "Timor-Leste"), "TR": ("TUR", "Turkey"),
    "TT": ("TTO", "Trinidad and Tobago"), "TV": ("TUV", "Tuvalu"),
    "TW": ("TWN", "Taiwan"), "TZ": ("TZA", "Tanzania, United Republic of"),
    "UA": ("UKR", "Ukraine"), "UG": ("UGA", "Uganda"),
    "UM": ("UMI", "United States Minor Outlying Islands"),
    "US": ("USA", "United States"), "UY": ("URY", "Uruguay"),
    "UZ": ("UZB", "Uzbekistan"), "VA": ("VAT", "Holy See (Vatican City State)"),
    "VC": ("VCT", "Saint Vincent and the Grenadines"),
    "VE": ("VEN", "Venezuela"), "VG": ("VGB", "Virgin Islands, British"),
    "VI": ("VIR", "Virgin Islands, U.S."), "VN": ("VNM", "Vietnam"),
    "VU": ("VUT", "Vanuatu"), "WF": ("WLF", "Wallis and Futuna"),
    "WS": ("WSM", "Samoa"), "YE": ("YEM", "Yemen"),
    "YT": ("MYT", "Mayotte"), "RS": ("SRB", "Serbia"),
    "ZA": ("ZAF", "South Africa"), "ZM": ("ZMB", "Zambia"),
    "ME": ("MNE", "Montenegro"), "ZW": ("ZWE", "Zimbabwe"),
    "AX": ("ALA", "Aland Islands"), "GG": ("GGY", "Guernsey"),
    "IM": ("IMN", "Isle of Man"), "JE": ("JEY", "Jersey"),
    "BL": ("BLM", "Saint Barthelemy"), "MF": ("MAF", "Saint Martin"),
    "BQ": ("BES", "Bonaire, Saint Eustatius and Saba"),
    "SS": ("SSD", "South Sudan"),
}


def _le3(b: bytes, off: int) -> int:
    return b[off] | (b[off + 1] << 8) | (b[off + 2] << 16)


def _le3_bytes(v: int) -> bytes:
    if not 0 <= v < (1 << 24):
        raise DATError(f"value {v} does not fit 3 bytes")
    return bytes([v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF])


def _c_float_coord(combo: int) -> float | None:
    """Fixed-point 3-byte field → coordinate at the C library's
    single-precision, as the reference's legacy goldens show
    (test_filter_geoip.rb:1024-1027). Zero field → absent (see module doc)."""
    if combo == 0:
        return None
    return float(np.float32(combo / 10000.0 - 180.0))


def _cstr(buf: bytes, off: int) -> tuple[str | None, int]:
    end = buf.find(b"\x00", off)
    if end < 0:
        raise DATError("unterminated string in city record")
    s = buf[off:end].decode("iso-8859-1")
    return (s or None), end + 1


@dataclass
class DATReader:
    """Parsed legacy .dat: edition + tree geometry + lazy record decoding."""

    buf: bytes
    edition: int
    segments: int           # node count; also the miss sentinel value

    @classmethod
    def from_bytes(cls, buf: bytes) -> "DATReader":
        if len(buf) < 6 + len(MARKER) + 1:
            raise DATError("file too small to be a legacy .dat")
        pos = len(buf) - 3
        for _ in range(STRUCTURE_INFO_MAX_SIZE):
            # a marker must leave room for the edition byte after it
            if buf[pos:pos + 3] == MARKER and pos + 4 <= len(buf):
                break
            pos -= 1
            if pos < 0:
                raise DATError("no structure-info marker found")
        else:
            raise DATError("no structure-info marker found")
        edition = buf[pos + 3]
        if edition >= 106:          # legacy editions stored with +105 offset
            edition -= 105
        if edition == COUNTRY_EDITION:
            segments = COUNTRY_BEGIN
        elif edition in _CITY_EDITIONS:
            if pos + 7 > len(buf):
                raise DATError("truncated segment count")
            segments = _le3(buf, pos + 4)
        else:
            raise DATError(f"unsupported database edition {edition}")
        if segments <= 0 or (edition in _CITY_EDITIONS
                             and segments * 2 * RECORD_LENGTH > len(buf)):
            raise DATError(f"implausible segment count {segments}")
        return cls(buf=buf, edition=edition, segments=segments)

    @classmethod
    def open(cls, path: str) -> "DATReader":
        with open(path, "rb") as f:
            return cls.from_bytes(f.read())

    def node(self, n: int) -> tuple[int, int]:
        b = n * 2 * RECORD_LENGTH
        if b + 6 > len(self.buf):
            raise DATError(f"node {n} out of bounds")
        return _le3(self.buf, b), _le3(self.buf, b + 3)

    def record_attrs(self, rec: int) -> dict:
        """Decode the data record a terminal tree value addresses into the
        flat legacy attr dict (the 9 GEOIP_KEYS + postal_code)."""
        if self.edition == COUNTRY_EDITION:
            return self._country_attrs(rec - COUNTRY_BEGIN)
        buf = self.buf
        off = rec + (2 * RECORD_LENGTH - 1) * self.segments
        if not 0 <= off < len(buf):
            raise DATError(f"record value {rec} addresses beyond the file")
        attrs = self._country_attrs(buf[off])
        off += 1
        attrs["region"], off = _cstr(buf, off)
        attrs["city"], off = _cstr(buf, off)
        attrs["postal_code"], off = _cstr(buf, off)
        if off + 6 > len(buf):
            raise DATError("truncated coordinates in city record")
        attrs["latitude"] = _c_float_coord(_le3(buf, off))
        attrs["longitude"] = _c_float_coord(_le3(buf, off + 3))
        off += 6
        if (self.edition == CITY_EDITION_REV1
                and attrs.get("country_code") == "US"):
            if off + 3 > len(buf):
                raise DATError("truncated dma/area combo in US city record")
            combo = _le3(buf, off)
            if combo:
                attrs["dma_code"] = combo // 1000
                attrs["area_code"] = combo % 1000
        return {k: v for k, v in attrs.items() if v is not None}

    @staticmethod
    def _country_attrs(idx: int) -> dict:
        if not 0 <= idx < len(COUNTRY_CODES):
            raise DATError(f"country index {idx} out of table range")
        code = COUNTRY_CODES[idx]
        if code == "--":
            return {}
        code3, name = COUNTRY_INFO[code]
        return {"country_code": code, "country_code3": code3,
                "country_name": name}

    def iter_ipv4_ranges(self):
        """Yield ``(range_start, range_end, attrs)`` for every network in
        the tree, disjoint, in no particular order; records are decoded once
        per distinct data offset."""
        attr_cache: dict[int, dict] = {}
        for start, end, rec in self._records():
            if rec not in attr_cache:
                attr_cache[rec] = self.record_attrs(rec)
            # an empty attrs dict is still a HIT (a record whose fields
            # are all absent — the reference's lat/lon-0.0-on-nil
            # scenario, test_filter_geoip.rb:456-480)
            yield start, end, attr_cache[rec]

    def _records(self):
        """The walk behind :meth:`iter_ipv4_ranges`: ``(range_start,
        range_end, record)``, with the tree's terminal value (one per data
        record) in place of the decoded attrs."""
        return trie.walk(self.node, 0, 32, self.segments, DATError)


# ---------------------------------------------------------------------------
# writer — builds spec-layout .dat fixtures from (cidr, attrs) pairs
# ---------------------------------------------------------------------------

def _encode_record(attrs: dict, edition: int) -> bytes:
    code = attrs.get("country_code", "--")
    try:
        idx = COUNTRY_CODES.index(code)
    except ValueError as e:
        raise DATError(f"unknown country code {code!r}") from e

    def coord(v) -> bytes:
        if v is None:
            return _le3_bytes(0)
        return _le3_bytes(round((float(v) + 180.0) * 10000.0))

    def cstr(k: str) -> bytes:
        v = attrs.get(k)
        return ((v or "").encode("iso-8859-1")) + b"\x00"

    out = bytes([idx]) + cstr("region") + cstr("city") + cstr("postal_code")
    out += coord(attrs.get("latitude")) + coord(attrs.get("longitude"))
    if edition == CITY_EDITION_REV1 and code == "US":
        dma = int(attrs.get("dma_code") or 0)
        area = int(attrs.get("area_code") or 0)
        out += _le3_bytes(dma * 1000 + area)
    return out


def build_dat(networks: list[tuple[str, dict]],
              edition: int = CITY_EDITION_REV1) -> bytes:
    """Build a legacy city-edition .dat from ``(cidr, attrs)`` pairs.

    Attrs use the flat legacy keys (``country_code``, ``city``, ``region``,
    ``postal_code``, ``latitude``, ``longitude``, ``dma_code``,
    ``area_code``). Identical attr dicts share one data record. Used to
    generate the committed fixture (scripts/build_test_dat.py) and by tests
    to construct arbitrary databases.
    """
    import ipaddress
    if edition not in _CITY_EDITIONS:
        raise DATError("writer supports the city editions only")
    paths = []
    datas: list[dict] = []
    data_index: dict[str, int] = {}
    for cidr, attrs in networks:
        try:
            net = ipaddress.ip_network(cidr)
        except ValueError as e:
            raise DATError(f"bad CIDR: {cidr}") from e
        if net.version != 4:
            raise DATError("legacy .dat trees are IPv4-only")
        key = repr(sorted(attrs.items()))
        if key not in data_index:
            data_index[key] = len(datas)
            datas.append(attrs)
        paths.append((cidr, int(net.network_address), net.prefixlen,
                      data_index[key]))

    # data section: a 1-byte pad keeps every record value strictly greater
    # than the miss sentinel (value == segments ⇔ absolute offset 6*segments,
    # which is the pad byte); absolute offset = value + 5*segments, and the
    # tree is 6*segments bytes
    data = bytearray(b"\x00")
    offsets: list[int] = []
    for attrs in datas:
        offsets.append(len(data))
        data += _encode_record(attrs, edition)
    nodes = trie.build(paths, 32, offsets, DATError)

    tree = bytearray()
    for left, right in nodes:
        tree += _le3_bytes(left) + _le3_bytes(right)

    return (bytes(tree) + bytes(data)
            + MARKER + bytes([edition]) + _le3_bytes(len(nodes)))
