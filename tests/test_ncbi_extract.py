"""Golden tests for the NCBI BioSample / BioProject / PubMed medline
XML parsers (S10) — fixture XML in the real public formats, parsed via
the distributed mapInPandas extractors."""

import gzip

from omicidx_gh_etl_spark.sources.ncbi_extract import extract_records

_BIOSAMPLE_XML = """<?xml version="1.0"?>
<BioSampleSet>
  <BioSample access="public" publication_date="2020-01-02T00:00:00"
             last_update="2021-03-04T10:00:00"
             submission_date="2019-12-31T08:00:00"
             id="1234" accession="SAMN01234" is_reference="1">
    <Ids>
      <Id db="BioSample" is_primary="1">SAMN01234</Id>
      <Id db="SRA">SRS000111</Id>
      <Id db="GEO">GSM222</Id>
      <Id db="dbGaP">phs000333</Id>
    </Ids>
    <Description>
      <Title>human sample one</Title>
      <Organism taxonomy_id="9606" taxonomy_name="Homo sapiens">
        <OrganismName>Homo sapiens</OrganismName>
      </Organism>
      <Comment><Paragraph>first test sample</Paragraph></Comment>
    </Description>
    <Models><Model>Generic</Model></Models>
    <Attributes>
      <Attribute attribute_name="age" harmonized_name="age"
                 display_name="age">34</Attribute>
      <Attribute attribute_name="tissue" unit="">liver</Attribute>
    </Attributes>
  </BioSample>
  <BioSample access="public" id="1235" accession="SAMN01235">
    <Ids><Id db="BioSample" is_primary="1">SAMN01235</Id></Ids>
    <Description><Title>minimal sample</Title></Description>
  </BioSample>
</BioSampleSet>
"""

_BIOPROJECT_XML = """<?xml version="1.0"?>
<PackageSet>
  <Package>
    <Project>
      <Project>
        <ProjectID>
          <ArchiveID accession="PRJNA43" archive="NCBI" id="43"/>
        </ProjectID>
        <ProjectDescr>
          <Name>proj-name</Name>
          <Title>A big project</Title>
          <Description>Deep sequencing of things</Description>
          <ProjectReleaseDate>2012-05-01</ProjectReleaseDate>
          <Publication id="22214321"><Reference/></Publication>
          <Publication id="19043404"/>
          <LocusTagPrefix>ABC</LocusTagPrefix>
          <ExternalLink><URL>https://example.org/p43</URL></ExternalLink>
        </ProjectDescr>
        <ProjectType>
          <ProjectTypeSubmission>
            <ProjectDataTypeSet><DataType>genome sequencing</DataType>
            </ProjectDataTypeSet>
          </ProjectTypeSubmission>
        </ProjectType>
      </Project>
    </Project>
  </Package>
  <Package>
    <Project>
      <Project>
        <ProjectID><ArchiveID accession="PRJNA44" archive="NCBI" id="44"/>
        </ProjectID>
        <ProjectDescr><Title>tiny</Title></ProjectDescr>
      </Project>
    </Project>
  </Package>
</PackageSet>
"""

_PUBMED_XML = """<?xml version="1.0"?>
<PubmedArticleSet>
  <PubmedArticle>
    <MedlineCitation Status="MEDLINE">
      <PMID Version="1">31452104</PMID>
      <Article PubModel="Print">
        <Journal>
          <Title>Journal of Testing</Title>
          <JournalIssue><PubDate><Year>2019</Year><Month>Aug</Month>
          </PubDate></JournalIssue>
        </Journal>
        <ArticleTitle>On the testing of parsers.</ArticleTitle>
        <Abstract>
          <AbstractText Label="BACKGROUND">Parsers exist.</AbstractText>
          <AbstractText Label="RESULTS">They parse.</AbstractText>
        </Abstract>
        <AuthorList>
          <Author><LastName>Doe</LastName><ForeName>Jane</ForeName>
            <AffiliationInfo><Affiliation>Test University</Affiliation>
            </AffiliationInfo></Author>
          <Author><LastName>Roe</LastName><ForeName>Rich</ForeName></Author>
        </AuthorList>
        <Language>eng</Language>
        <PublicationTypeList>
          <PublicationType UI="D016428">Journal Article</PublicationType>
        </PublicationTypeList>
      </Article>
      <MedlineJournalInfo><Country>Testland</Country></MedlineJournalInfo>
      <MeshHeadingList>
        <MeshHeading><DescriptorName UI="D005796">Genomics</DescriptorName>
        </MeshHeading>
      </MeshHeadingList>
      <KeywordList><Keyword>etl</Keyword><Keyword>xml</Keyword></KeywordList>
    </MedlineCitation>
    <PubmedData>
      <ArticleIdList>
        <ArticleId IdType="pubmed">31452104</ArticleId>
        <ArticleId IdType="doi">10.1000/test.123</ArticleId>
      </ArticleIdList>
    </PubmedData>
  </PubmedArticle>
</PubmedArticleSet>
"""


def test_extract_biosamples_golden(spark, tmp_path):
    (tmp_path / "biosample_set.xml").write_text(_BIOSAMPLE_XML)
    rows = {
        r["accession"]: r
        for r in extract_records(spark, "biosample", str(tmp_path)).collect()
    }
    assert set(rows) == {"SAMN01234", "SAMN01235"}
    r = rows["SAMN01234"]
    assert r["title"] == "human sample one"
    assert r["taxonomy_name"] == "Homo sapiens" and r["taxon_id"] == 9606
    assert r["sra_sample"] == "SRS000111"
    assert r["gsm"] == "GSM222" and r["dbgap"] == "phs000333"
    assert r["ids"] == ["SAMN01234", "SRS000111", "GSM222", "phs000333"]
    assert r["attributes"] == ["age=34", "tissue=liver"]
    assert '"harmonized_name": "age"' in r["attribute_recs"][0]
    assert r["description"] == "first test sample"
    assert r["model"] == "Generic"
    assert r["is_reference"] == "1" and r["access"] == "public"
    assert r["last_update"] == "2021-03-04T10:00:00"
    # minimal record: list fields normalize to [], scalars to None (D2)
    m = rows["SAMN01235"]
    assert m["attributes"] == [] and m["attribute_recs"] == []
    assert m["taxon_id"] is None and m["sra_sample"] is None


def test_extract_bioprojects_golden(spark, tmp_path):
    with gzip.open(tmp_path / "bioproject.xml.gz", "wt") as fh:
        fh.write(_BIOPROJECT_XML)
    rows = {
        r["accession"]: r
        for r in extract_records(spark, "bioproject", str(tmp_path)).collect()
    }
    assert set(rows) == {"PRJNA43", "PRJNA44"}  # one row per package
    r = rows["PRJNA43"]
    assert r["title"] == "A big project" and r["name"] == "proj-name"
    assert r["description"] == "Deep sequencing of things"
    assert r["release_date"] == "2012-05-01"
    assert r["publications"] == ["22214321", "19043404"]
    assert r["locus_tags"] == ["ABC"]
    assert r["data_types"] == ["genome sequencing"]
    assert r["external_links"] == ["https://example.org/p43"]
    assert rows["PRJNA44"]["publications"] == []


def test_extract_pubmed_golden(spark, tmp_path):
    (tmp_path / "pubmed24n0001.xml").write_text(_PUBMED_XML)
    rows = extract_records(spark, "pubmed", str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["pmid"] == "31452104"
    assert r["doi"] == "10.1000/test.123"
    assert r["title"] == "On the testing of parsers."
    assert r["abstract"] == "Parsers exist. They parse."
    assert r["journal"] == "Journal of Testing"
    assert r["pubdate"] == "2019-Aug"
    assert r["country"] == "Testland"
    assert r["languages"] == ["eng"]
    assert [a["lastname"] for a in r["authors"]] == ["Doe", "Roe"]
    assert r["authors"][0]["affiliation"] == "Test University"
    assert r["authors"][1]["affiliation"] is None
    assert r["mesh_terms"] == ["Genomics"]
    assert r["publication_types"] == ["Journal Article"]
    assert r["keywords"] == ["etl", "xml"]
    assert r["source_file"].endswith("pubmed24n0001.xml")


def test_extract_empty_dir(spark, tmp_path):
    assert extract_records(spark, "biosample", str(tmp_path)).count() == 0
    assert extract_records(spark, "bioproject", str(tmp_path)).count() == 0
    assert extract_records(spark, "pubmed", str(tmp_path)).count() == 0
