"""MGCP-style cell-metadata XML validation (SURVEY.md §3.2).

Reference: `gait -MGCP_XML` parses cell metadata XML with CMarkup and checks
element domains, dates, and country trigraphs (parse_xml.cpp, 19K LoC; entry
BatchCheckMGCPXML interface.c:48024; trigraph table IsTrigraph.c:14).

Engine shape: metadata XML is a string column; validation is one Arrow-batched
pandas kernel (vectorized .str.extract + set membership) producing condition
rows — the distributed twin of the reference's per-file DOM walk.  The
fixture XML is synthesized in shared SQL (both engines see identical strings),
with planted violations keyed off order-key residues.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

#: the reference's FULL 277-entry country-trigraph table, transcribed from
#: the MIT-licensed data array (IsTrigraph.c:14 — ISO-3166-style alpha-3
#: codes plus NGA multi-country composites like ACGU/APFS/BWCS); data, not
#: code, same footing as the schema tables in functions/schema_models.json.
VALID_TRIGRAPHS = frozenset([
    "ABW", "ACGU", "AFG", "AGO", "AIA", "ALA", "ALB", "AND", "ANT", "APFS",
    "ARE", "ARG", "ARM", "ASM", "ATA", "ATF", "ATG", "AUS", "AUT", "AZE",
    "BDI", "BEL", "BEN", "BES", "BFA", "BGD", "BGR", "BHR", "BHS", "BIH",
    "BLM", "BLR", "BLZ", "BMU", "BOL", "BRA", "BRB", "BRN", "BTN", "BVT",
    "BWA", "BWCS", "CAF", "CAN", "CCK", "CFCK", "CFUP", "CHE", "CHL",
    "CHN", "CIV", "CMFC", "CMFP", "CMR", "COD", "COG", "COK", "COL", "COM",
    "CPMT", "CPV", "CRI", "CUB", "CUW", "CWCS", "CXR", "CYM", "CYP", "CZE",
    "DEU", "DJI", "DMA", "DNK", "DOM", "DZA", "ECU", "EFOR", "EGY", "ERI",
    "ESH", "ESP", "EST", "ETH", "EUDA", "FGI", "FIN", "FJI", "FLK", "FRA",
    "FRO", "FSM", "FVEY", "GAB", "GBR", "GCTF", "GEO", "GGY", "GHA", "GIB",
    "GIN", "GLP", "GMB", "GMIF", "GNB", "GNQ", "GRC", "GRD", "GRL", "GTM",
    "GUF", "GUM", "GUY", "HKG", "HMD", "HND", "HRV", "HTI", "HUN", "IDN",
    "IESC", "IMN", "IND", "IOT", "IRL", "IRN", "IRQ", "ISAF", "ISL", "ISR",
    "ITA", "JAM", "JEY", "JOR", "JPN", "KAZ", "KEN", "KFOR", "KGZ", "KHM",
    "KIR", "KNA", "KOR", "KWT", "LAO", "LBN", "LBR", "LBY", "LCA", "LIE",
    "LKA", "LSO", "LTU", "LUX", "LVA", "MAC", "MAF", "MAR", "MCFI", "MCO",
    "MDA", "MDG", "MDV", "MEX", "MHL", "MIFH", "MKD", "MLEC", "MLI", "MLT",
    "MMR", "MNE", "MNG", "MNP", "MOZ", "MRT", "MSR", "MTQ", "MUS", "MWI",
    "MYS", "MYT", "NACT", "NAM", "NATO", "NCL", "NER", "NFK", "NGA", "NIC",
    "NIU", "NLD", "NOR", "NPL", "NRU", "NZL", "OMN", "PAK", "PAN", "PCN",
    "PER", "PHL", "PLW", "PNG", "POL", "PRI", "PRK", "PRT", "PRY", "PSE",
    "PYF", "QAT", "REU", "ROU", "RUS", "RWA", "SAU", "SDN", "SEN", "SGP",
    "SGS", "SHN", "SJM", "SLB", "SLE", "SLV", "SMR", "SOM", "SPAA", "SPM",
    "SRB", "SSD", "STP", "SUR", "SVK", "SVN", "SWE", "SWZ", "SXM", "SYC",
    "SYR", "TCA", "TCD", "TEYE", "TGO", "THA", "TJK", "TKL", "TKM", "TLS",
    "TON", "TTO", "TUN", "TUR", "TUV", "TWN", "TZA", "UGA", "UKR", "UMI",
    "UNCK", "UNKNOWN", "URY", "USA", "UZB", "VAT", "VCT", "VEN", "VGB",
    "VIR", "VNM", "VUT", "WLF", "WSM", "YEM", "ZAF", "ZMB", "ZWE"
])
VALID_SECURITY = frozenset(["U", "R", "C", "S", "TS"])
EDITION_RANGE = (1, 50)

# shared-text fixture: cell metadata XML per order (plants: %7 bad trigraph,
# %11 bad month, %13 bad security, %17 edition out of range)
METADATA_XML_SQL = """
SELECT
  o_orderkey AS cell_key,
  concat(
    '<cell><country>',
    CASE WHEN o_orderkey % 7 = 0 THEN 'XXZ'
         ELSE CASE CAST(o_orderkey % 5 AS INT)
                WHEN 0 THEN 'USA' WHEN 1 THEN 'DEU' WHEN 2 THEN 'FRA'
                WHEN 3 THEN 'GBR' ELSE 'JPN' END END,
    '</country><edition>',
    CAST(CASE WHEN o_orderkey % 17 = 0 THEN 99
              ELSE 1 + CAST(o_orderkey % 12 AS INT) END AS STRING),
    '</edition><date>2024-',
    CASE WHEN o_orderkey % 11 = 0 THEN '13'
         ELSE CASE WHEN 1 + CAST(o_orderkey % 12 AS INT) < 10
                   THEN concat('0', CAST(1 + CAST(o_orderkey % 12 AS INT) AS STRING))
                   ELSE CAST(1 + CAST(o_orderkey % 12 AS INT) AS STRING) END END,
    '-', CASE WHEN 1 + CAST(o_orderkey % 28 AS INT) < 10
              THEN concat('0', CAST(1 + CAST(o_orderkey % 28 AS INT) AS STRING))
              ELSE CAST(1 + CAST(o_orderkey % 28 AS INT) AS STRING) END,
    '</date><security>',
    CASE WHEN o_orderkey % 13 = 0 THEN 'Q'
         ELSE CASE CAST(o_orderkey % 4 AS INT)
                WHEN 0 THEN 'U' WHEN 1 THEN 'R' WHEN 2 THEN 'C' ELSE 'S' END END,
    '</security></cell>'
  ) AS xml
FROM orders
"""

VALIDATE_OUT_SCHEMA = "cell_key long, errtype string, value string"


def validate_metadata_xml(xml_df: DataFrame) -> DataFrame:
    """(cell_key, xml) -> condition rows for trigraph/date/security/edition."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = pdf["xml"]
            key = pdf["cell_key"]
            country = x.str.extract(r"<country>([^<]*)</country>", expand=False)
            edition = x.str.extract(r"<edition>([^<]*)</edition>", expand=False)
            date = x.str.extract(r"<date>([^<]*)</date>", expand=False)
            security = x.str.extract(r"<security>([^<]*)</security>", expand=False)

            out = []
            bad_tri = ~country.isin(VALID_TRIGRAPHS)
            if bad_tri.any():
                out.append(
                    pd.DataFrame(
                        {"cell_key": key[bad_tri], "errtype": "META_TRIGRAPH",
                         "value": country[bad_tri]}
                    )
                )
            ed = pd.to_numeric(edition, errors="coerce")
            bad_ed = ed.isna() | (ed < EDITION_RANGE[0]) | (ed > EDITION_RANGE[1])
            if bad_ed.any():
                out.append(
                    pd.DataFrame(
                        {"cell_key": key[bad_ed], "errtype": "META_EDITION_RNG",
                         "value": edition[bad_ed]}
                    )
                )
            parts = date.str.extract(r"^(\d{4})-(\d{2})-(\d{2})$")
            month = pd.to_numeric(parts[1], errors="coerce")
            day = pd.to_numeric(parts[2], errors="coerce")
            bad_date = month.isna() | (month < 1) | (month > 12) | (day < 1) | (day > 28)
            if bad_date.any():
                out.append(
                    pd.DataFrame(
                        {"cell_key": key[bad_date], "errtype": "META_DATE",
                         "value": date[bad_date]}
                    )
                )
            bad_sec = ~security.isin(VALID_SECURITY)
            if bad_sec.any():
                out.append(
                    pd.DataFrame(
                        {"cell_key": key[bad_sec], "errtype": "META_SECURITY",
                         "value": security[bad_sec]}
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    return xml_df.select("cell_key", "xml").mapInPandas(run, schema=VALIDATE_OUT_SCHEMA)
