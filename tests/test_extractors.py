"""Unit tests for the pure extractor library (oracle side).

Golden cases derived from the reference's own embedded examples:
the MRZ fixture at /root/reference/backend/mrz_parser.py:494-497 and the
labor-card labels at /root/reference/backend/config_new.py:83-115.
"""

from ocr_documents_spark.extractors import classify, doc_types, fields_generic, quality

GOLDEN_MRZ = (
    "P<INDSUNDAR<RAJ<MEKALA<<CHURCHIL<<<<<<<<<<<<<<\n"
    "W1403565<2IND9609211M3209192064574868122<36"
)


def test_passport_golden_mrz():
    out = doc_types.extract_passport(GOLDEN_MRZ)
    assert out["name_on_passport"]["value"] == "Churchil Sundar Raj Mekala"
    assert out["nationality"]["value"] == "IND"
    assert out["passport_number"]["value"] == "W1403565"
    assert out["date_of_birth"]["value"] == "21-Sep-96"
    assert out["gender"]["value"] == "Male"
    assert out["passport_expiry_date"]["value"] == "19-Sep-32"
    # positional slice [file_start:file_start+14] lands one past the expiry
    # check digit — faithful to backend/ocr_service.py:242-246
    assert out["file_number"]["value"] == "0645748681223"
    # issue date falls back to expiry - 10y + 1 day
    assert out["passport_issue_date"]["value"] == "20-Sep-22"
    # placeholder fields present with None values
    assert out["address"]["value"] is None
    # dict-insertion order is part of the invariant
    assert list(out)[:7] == [
        "name_on_passport", "nationality", "passport_number", "date_of_birth",
        "gender", "passport_expiry_date", "file_number"]


def test_mrz_date_century_split():
    assert doc_types.format_mrz_date("500101") == "01-Jan-50"   # yy>=50 -> 1950
    assert doc_types.format_mrz_date("490101") == "01-Jan-49"   # yy<50 -> 2049
    assert doc_types.format_mrz_date("991231") == "31-Dec-99"
    assert doc_types.format_mrz_date("130229") is None           # invalid date
    assert doc_types.format_mrz_date("12345") is None            # wrong length


def test_labor_card_config_new_example():
    text = ("Name : CHURCHIL SUNDAR RAJ\n"
            "Work Permit NO : 102033033\n"
            "Personal NO : 10021099682055\n"
            "Profession : Civil Engineer\n"
            "Nationality : INDIAN\n"
            "Establishment : ENGISOFT TECHNICAL SERVICES LLC\n"
            "Expiry Date : 27/01/2023")
    out = doc_types.extract_labor_card(text)
    assert out["full_name"]["value"] == "CHURCHIL SUNDAR RAJ"
    assert out["work_permit_number"]["value"] == "102033033"
    assert out["personal_number"]["value"] == "10021099682055"
    assert out["expiry_date"]["value"] == "27-Jan-23"
    assert out["profession"]["value"] == "Civil Engineer"
    assert out["nationality"]["value"] == "Indian"
    assert out["company_name"]["value"] == "ENGISOFT TECHNICAL SERVICES LLC"


def test_emirates_id_date_triage():
    text = ("UNITED ARAB EMIRATES IDENTITY CARD\n"
            "ID Number : 784-1984-1234567-1\n"
            "Rahul Kumar Sharma\n"
            "15/06/1984\n01/02/2021\n31/01/2023\n")
    out = doc_types.extract_emirates_id(text)
    assert out["emirates_id_number"]["value"] == "784-1984-1234567-1"
    assert out["date_of_birth"]["value"] == "15/06/1984"
    assert out["issue_date"]["value"] == "01/02/2021"
    assert out["expiry_date"]["value"] == "31/01/2023"
    # 15-digit fallback reformats
    out2 = doc_types.extract_emirates_id("784198412345671")
    assert out2["emirates_id_number"]["value"] == "784-1984-1234567-1"


def test_residence_visa_longest_name_and_date_sort():
    text = ("UNITED ARAB EMIRATES RESIDENCE\n"
            "U.I.D.No : 123456789\n"
            "File No : 201/2021/12345\n"
            "RAHUL KUMAR SHARMA\n"
            "id 99\n"
            "Issue 2021/05/14\nExpiry 2023/05/13\n")
    out = doc_types.extract_residence_visa(text)
    assert out["uid_number"]["value"] == "123456789"
    assert out["file_number"]["value"] == "201/2021/12345"
    assert out["name_on_visa"]["value"] == "RAHUL KUMAR SHARMA"
    assert out["issue_date"]["value"] == "2021/05/14"
    assert out["expiry_date"]["value"] == "2023/05/13"


def test_aadhaar_state_machines():
    text = ("GOVERNMENT OF INDIA\nAADHAAR\n"
            "Rahul Kumar\nDOB: 21/09/1996\nMALE\n"
            "S/O Ramesh Kumar\nHouse 12, MG Road\nChennai 600001\n"
            "4123 5678 9012\n")
    out = doc_types.extract_home_country_id(text)
    assert out["aadhaar_number"]["value"] == "4123 5678 9012"
    assert out["date_of_birth"]["value"] == "21/09/1996"
    assert out["gender"]["value"] == "Male"
    assert out["full_name"]["value"] == "Rahul Kumar"
    assert out["address"]["value"] == "S/O Ramesh Kumar, House 12, MG Road, Chennai 600001"


def test_invoice_ordinal_assignment():
    text = ("ACME LLC\nTAX INVOICE\nInv No: INV-1001\n"
            "Email: a@acme.ae\nGST: 123456789A\n"
            "billed to :\nGLOBEX LLC\nEmail: b@globex.ae\nVAT: 98765432109876\n"
            "Description Qty Price Amount\n1 Widget 2 50.00 100.00\n"
            "Subtotal: 100.00\nGrand Total: AED 105.00\n")
    out = doc_types.extract_invoice(text)
    assert out["invoice_number"]["value"] == "INV-1001"
    assert out["supplier_email"]["value"] == "a@acme.ae"
    assert out["customer_email"]["value"] == "b@globex.ae"
    assert out["supplier_tax_id"]["value"] == "123456789A"
    assert out["customer_tax_id"]["value"] == "98765432109876"
    assert out["supplier_name"]["value"] == "ACME LLC"
    assert out["customer_name"]["value"] == "GLOBEX LLC"
    assert out["line_items"]["value"] == "1 items"
    assert out["currency"]["value"] == "AED"


def test_purchase_order_config_fallback():
    out = doc_types.extract_purchase_order(
        "PURCHASE ORDER\nPO No : PO-7788\nTotal : AED 5250.00\n")
    assert out["po_number"]["value"] == "PO-7788"
    # reference F1 semantics: group(1) is the currency group of the
    # total_amount pattern — faithful to backend/ocr_service.py:74
    assert out["total_amount"]["value"] == "AED"
    assert out["po_number"]["confidence"] == 90.0


def test_labor_contract_config_fallback():
    out = doc_types.extract_labor_contract(
        "EMPLOYMENT CONTRACT\nBasic Salary : AED 5000\nStart Date : 01/02/2024\n")
    assert out["basic_salary"]["value"] == "AED"
    assert out["contract_start_date"]["value"] == "01/02/2024"


def test_key_value_mining_junk_filters():
    mined = fields_generic.mine_key_value_pairs(
        "Card Holder : JOHN DOE\nX : ZZ\n12ab : Value here\n")
    assert "card_holder" in mined
    assert mined["card_holder"]["value"] == "JOHN DOE"
    assert mined["card_holder"]["confidence"] == 85.0
    assert len(mined) == 1  # short key and digit-prefixed key filtered


def test_classifier_enhanced_gates():
    # mandatory missing -> UNKNOWN
    assert classify.classify_enhanced("hello world nothing here at all")[0] == "UNKNOWN"
    # short text -> UNKNOWN
    assert classify.classify_enhanced("tiny") == ("UNKNOWN", 0.0)
    # passport MRZ + indicators classifies as PASSPORT
    t, c = classify.classify_enhanced(
        "PASSPORT\nP<INDSUNDAR<<CHURCHIL\nNationality INDIAN\nDate of Birth x\nW1403565")
    assert t == "PASSPORT" and c >= 40
    # exclusion kills passport when 'sponsor' present
    t2, _ = classify.classify_enhanced(
        "PASSPORT\nP<INDSUNDAR<<CHURCHIL\nNationality\nSponsor : ACME")
    assert t2 != "PASSPORT"


def test_classifier_ambiguity_damping():
    # build a text that scores for two types within 15 points
    t, c = classify.classify_enhanced(
        "invoice\nquantity 5 amount 100\npurchase order vendor buyer")
    # PURCHASE_ORDER excluded by 'invoice'; INVOICE excluded by 'purchase order'
    assert t == "UNKNOWN"


def test_classifier_simple():
    t, c = classify.classify_simple("tax invoice\ninvoice no 55\nsubtotal 10 bill to x")
    assert t == "INVOICE"
    assert classify.classify_simple("ab")[0] == "UNKNOWN"


def test_quality_gate_thresholds():
    ok = dict(w=1240, h=920, blur=260.0, brightness=138.0, contrast=62.0)
    assert quality.quality_report(**ok)[0]
    assert not quality.quality_report(**{**ok, "blur": 12.0})[0]
    assert not quality.quality_report(**{**ok, "brightness": 21.0})[0]
    assert not quality.quality_report(**{**ok, "brightness": 250.0})[0]
    assert not quality.quality_report(**{**ok, "contrast": 11.0})[0]
    assert not quality.quality_report(**{**ok, "w": 340.0, "h": 260.0})[0]
    # borderline: passes hard gates but composite score drives outcome
    assert quality.quality_score(1240, 920, 260.0, 138.0, 62.0) >= 90
