"""Byte-exact validator message goldens.

GOLDENS below was generated by scripts/gen_validator_goldens.py, which
runs the REFERENCE validator classes (/root/reference/app/services/
validators/*) in-process over the 21 ported cases from
test_rules_pipeline.py with datetime.now() frozen to RUN_DATE and the
Verifik client in its disabled default. Each entry maps
case -> {validator_name: (status, message, details)} for the 5 base
validators plus the type-specific validator (details canonicalized to
the MAP<STRING,STRING> encoding, gen_validator_goldens.canon_details);
the test asserts the Spark battery reproduces every (status, message,
details) triple byte-for-byte."""

import pytest
from pyspark.sql import functions as F

from tests.test_rules_pipeline import RUN_DATE, VALIDATOR_CASES
from webxtract.schemas import FIELD_NAMES

GOLDENS = \
{'alberta_valid': {'age_validation': ('passed',
                                      'Age verification passed (29 years old)',
                                      {'calculated_age': '29', 'minimum_age': '18'}),
                   'alberta_drivers_license': ('passed',
                                               "Alberta Driver's Licence validation passed",
                                               {'age_at_issue': '27',
                                                'calculated_age': '29',
                                                'checks_performed': 'licence_number_format; '
                                                                    'minimum_age_alberta; '
                                                                    'expiry_on_birthday; '
                                                                    'validity_period; '
                                                                    'expiry_check; '
                                                                    'issue_date_check',
                                                'clean_licence_number': '123456789',
                                                'days_until_expiry': '1104',
                                                'expiry_on_birthday': 'true',
                                                'extracted_last_name': 'WILLIAMS',
                                                'last_name_source': 'full_name_comma_format',
                                                'licence_digits': '9',
                                                'licence_number_valid': 'true',
                                                'validity_years': '5.0'}),
                   'data_consistency': ('passed', 'All date relationships are consistent', {}),
                   'document_expiry': ('passed',
                                       'Document valid for 1104 days',
                                       {'days_until_expiry': '1104', 'expiry_date': '2029-01-23'}),
                   'document_format': ('passed',
                                       'Document number matches 5 known format(s)',
                                       {'document_number': '123456-789',
                                        'matched_patterns': '[{"pattern_name":"CA_ALBERTA_DL","description":"Alberta '
                                                            "Driver's "
                                                            'Licence"},{"pattern_name":"US_DL_NEW_YORK","description":"New '
                                                            "York Driver's "
                                                            'License"},{"pattern_name":"UK_PASSPORT","description":"UK '
                                                            'Passport"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                            'numeric '
                                                            'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                            'alphanumeric ID"}]'}),
                   'face_matching': ('skipped',
                                     'Face matching skipped - no selfie provided',
                                     {'note': 'Provide selfie image to enable face matching'})},
 'bc_expired': {'age_validation': ('passed',
                                   'Age verification passed (29 years old)',
                                   {'calculated_age': '29', 'minimum_age': '18'}),
                'bc_drivers_license': ('failed',
                                       "BC Driver's Licence validation failed: Licence expired 30 "
                                       'days ago',
                                       {'calculated_age': '29',
                                        'checks_performed': 'licence_number_format; '
                                                            'minimum_age_bc; expiry_on_birthday; '
                                                            'validity_period; expiry_check; '
                                                            'issue_date_check; '
                                                            'verifik_api_validation',
                                        'clean_licence_number': '1234567',
                                        'extracted_last_name': 'EXPIRED',
                                        'has_dl_prefix': 'false',
                                        'has_ndl_prefix': 'false',
                                        'issues': 'Licence expired 30 days ago',
                                        'last_name_source': 'full_name_parsed',
                                        'licence_digits': '7',
                                        'licence_number_valid': 'true',
                                        'verifik_api_enabled': 'false',
                                        'verifik_api_skipped_reason': 'local_validation_failed',
                                        'warnings': 'Expiry date (12-16) is not on birthday '
                                                    "(01-23). BC DL typically expires on holder's "
                                                    'birthday'}),
                'data_consistency': ('passed', 'All date relationships are consistent', {}),
                'document_expiry': ('failed',
                                    'Document expired 30 days ago',
                                    {'days_expired': '30', 'expiry_date': '2025-12-16'}),
                'document_format': ('passed',
                                    'Document number matches 3 known format(s)',
                                    {'document_number': '1234567',
                                     'matched_patterns': '[{"pattern_name":"CA_BC_DL","description":"BC '
                                                         "Driver's "
                                                         'Licence"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                         'numeric '
                                                         'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                         'alphanumeric ID"}]'}),
                'face_matching': ('skipped',
                                  'Face matching skipped - no selfie provided',
                                  {'note': 'Provide selfie image to enable face matching'})},
 'bc_valid': {'age_validation': ('passed',
                                 'Age verification passed (29 years old)',
                                 {'calculated_age': '29', 'minimum_age': '18'}),
              'bc_drivers_license': ('passed',
                                     "BC Driver's Licence validation passed",
                                     {'age_at_issue': '27',
                                      'calculated_age': '29',
                                      'checks_performed': 'licence_number_format; minimum_age_bc; '
                                                          'expiry_on_birthday; validity_period; '
                                                          'expiry_check; issue_date_check; '
                                                          'verifik_api_validation',
                                      'clean_licence_number': '1234567',
                                      'days_until_expiry': '1104',
                                      'expiry_on_birthday': 'true',
                                      'extracted_last_name': 'JONES',
                                      'has_dl_prefix': 'false',
                                      'has_ndl_prefix': 'false',
                                      'last_name_source': 'full_name_parsed',
                                      'licence_digits': '7',
                                      'licence_number_valid': 'true',
                                      'validity_years': '5.0',
                                      'verifik_api_enabled': 'false'}),
              'data_consistency': ('passed', 'All date relationships are consistent', {}),
              'document_expiry': ('passed',
                                  'Document valid for 1104 days',
                                  {'days_until_expiry': '1104', 'expiry_date': '2029-01-23'}),
              'document_format': ('passed',
                                  'Document number matches 3 known format(s)',
                                  {'document_number': '1234567',
                                   'matched_patterns': '[{"pattern_name":"CA_BC_DL","description":"BC '
                                                       "Driver's "
                                                       'Licence"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                       'numeric '
                                                       'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                       'alphanumeric ID"}]'}),
              'face_matching': ('skipped',
                                'Face matching skipped - no selfie provided',
                                {'note': 'Provide selfie image to enable face matching'})},
 'manitoba_ref_quirk': {'age_validation': ('passed',
                                           'Age verification passed (29 years old)',
                                           {'calculated_age': '29', 'minimum_age': '18'}),
                        'data_consistency': ('passed', 'All date relationships are consistent', {}),
                        'document_expiry': ('passed',
                                            'Document valid for 1104 days',
                                            {'days_until_expiry': '1104',
                                             'expiry_date': '2029-01-23'}),
                        'document_format': ('passed',
                                            'Document number matches 2 known format(s)',
                                            {'document_number': 'ABCD-123-456',
                                             'matched_patterns': '[{"pattern_name":"CA_MANITOBA_DL","description":"Manitoba '
                                                                 "Driver's "
                                                                 'Licence"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                                 'alphanumeric ID"}]'}),
                        'face_matching': ('skipped',
                                          'Face matching skipped - no selfie provided',
                                          {'note': 'Provide selfie image to enable face matching'}),
                        'manitoba_drivers_license': ('failed',
                                                     "Manitoba Driver's Licence validation failed: "
                                                     'Invalid Manitoba document number format. '
                                                     'Expected: 9 digits, Got: ABCD-123-456',
                                                     {'age_at_issue': '27',
                                                      'calculated_age': '29',
                                                      'checks_performed': 'document_number_format; '
                                                                          'minimum_age_manitoba; '
                                                                          'expiry_on_birthday; '
                                                                          'validity_period; '
                                                                          'expiry_check; '
                                                                          'issue_date_check',
                                                      'clean_document_number': 'ABCD123456',
                                                      'days_until_expiry': '1104',
                                                      'expiry_on_birthday': 'true',
                                                      'extracted_last_name': 'ANDERSON',
                                                      'issues': 'Invalid Manitoba document number '
                                                                'format. Expected: 9 digits, Got: '
                                                                'ABCD-123-456',
                                                      'last_name_source': 'full_name_comma_format',
                                                      'validity_years': '5.0',
                                                      'warnings': ''})},
 'manitoba_valid_9digit': {'age_validation': ('passed',
                                              'Age verification passed (29 years old)',
                                              {'calculated_age': '29', 'minimum_age': '18'}),
                           'data_consistency': ('passed',
                                                'All date relationships are consistent',
                                                {}),
                           'document_expiry': ('passed',
                                               'Document valid for 1104 days',
                                               {'days_until_expiry': '1104',
                                                'expiry_date': '2029-01-23'}),
                           'document_format': ('passed',
                                               'Document number matches 5 known format(s)',
                                               {'document_number': '428051376',
                                                'matched_patterns': '[{"pattern_name":"CA_ALBERTA_DL","description":"Alberta '
                                                                    "Driver's "
                                                                    'Licence"},{"pattern_name":"US_DL_NEW_YORK","description":"New '
                                                                    "York Driver's "
                                                                    'License"},{"pattern_name":"UK_PASSPORT","description":"UK '
                                                                    'Passport"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                                    'numeric '
                                                                    'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                                    'alphanumeric ID"}]'}),
                           'face_matching': ('skipped',
                                             'Face matching skipped - no selfie provided',
                                             {'note': 'Provide selfie image to enable face '
                                                      'matching'}),
                           'manitoba_drivers_license': ('passed',
                                                        "Manitoba Driver's Licence validation "
                                                        'passed',
                                                        {'age_at_issue': '27',
                                                         'calculated_age': '29',
                                                         'checks_performed': 'document_number_format; '
                                                                             'minimum_age_manitoba; '
                                                                             'expiry_on_birthday; '
                                                                             'validity_period; '
                                                                             'expiry_check; '
                                                                             'issue_date_check',
                                                         'clean_document_number': '428051376',
                                                         'days_until_expiry': '1104',
                                                         'document_number_valid': 'true',
                                                         'expiry_on_birthday': 'true',
                                                         'extracted_last_name': 'ANDERSON',
                                                         'last_name_source': 'full_name_comma_format',
                                                         'validity_years': '5.0'})},
 'new_brunswick_valid': {'age_validation': ('passed',
                                            'Age verification passed (29 years old)',
                                            {'calculated_age': '29', 'minimum_age': '18'}),
                         'data_consistency': ('passed',
                                              'All date relationships are consistent',
                                              {}),
                         'document_expiry': ('passed',
                                             'Document valid for 1104 days',
                                             {'days_until_expiry': '1104',
                                              'expiry_date': '2029-01-23'}),
                         'document_format': ('passed',
                                             'Document number matches 3 known format(s)',
                                             {'document_number': '1234567',
                                              'matched_patterns': '[{"pattern_name":"CA_BC_DL","description":"BC '
                                                                  "Driver's "
                                                                  'Licence"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                                  'numeric '
                                                                  'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                                  'alphanumeric ID"}]'}),
                         'face_matching': ('skipped',
                                           'Face matching skipped - no selfie provided',
                                           {'note': 'Provide selfie image to enable face '
                                                    'matching'}),
                         'new_brunswick_drivers_license': ('warning',
                                                           "New Brunswick Driver's Licence "
                                                           'validation passed with warnings',
                                                           {'age_at_issue': '27',
                                                            'calculated_age': '29',
                                                            'checks_performed': 'licence_number_format; '
                                                                                'minimum_age_new_brunswick; '
                                                                                'expiry_on_birthday; '
                                                                                'validity_period; '
                                                                                'expiry_check; '
                                                                                'issue_date_check',
                                                            'clean_licence_number': '1234567',
                                                            'days_until_expiry': '1104',
                                                            'expiry_on_birthday': 'true',
                                                            'extracted_last_name': 'LEBLANC',
                                                            'last_name_source': 'full_name_comma_format',
                                                            'licence_digits': '7',
                                                            'licence_number_valid': 'true',
                                                            'validity_years': '5.0',
                                                            'warnings': 'Validity period (5.0 '
                                                                        'years) exceeds typical '
                                                                        '4-year New Brunswick '
                                                                        'licence term'})},
 'newfoundland_valid': {'age_validation': ('passed',
                                           'Age verification passed (29 years old)',
                                           {'calculated_age': '29', 'minimum_age': '18'}),
                        'data_consistency': ('passed', 'All date relationships are consistent', {}),
                        'document_expiry': ('passed',
                                            'Document valid for 1104 days',
                                            {'days_until_expiry': '1104',
                                             'expiry_date': '2029-01-23'}),
                        'document_format': ('passed',
                                            'Document number matches 2 known format(s)',
                                            {'document_number': 'O123456789',
                                             'matched_patterns': '[{"pattern_name":"US_DRIVERS_LICENSE","description":"US '
                                                                 "Driver's License "
                                                                 '(generic)"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                                 'alphanumeric ID"}]'}),
                        'face_matching': ('skipped',
                                          'Face matching skipped - no selfie provided',
                                          {'note': 'Provide selfie image to enable face matching'}),
                        'newfoundland_drivers_license': ('warning',
                                                         "Newfoundland Driver's Licence validation "
                                                         'passed with warnings',
                                                         {'age_at_issue': '27',
                                                          'calculated_age': '29',
                                                          'checks_performed': 'licence_number_format; '
                                                                              'first_letter_match; '
                                                                              'minimum_age_newfoundland; '
                                                                              'expiry_on_birthday; '
                                                                              'validity_period; '
                                                                              'expiry_check; '
                                                                              'issue_date_check',
                                                          'clean_licence_number': 'O123456789',
                                                          'days_until_expiry': '1104',
                                                          'expiry_on_birthday': 'true',
                                                          'extracted_last_name': "O'BRIEN",
                                                          'first_letter_matches': 'true',
                                                          'last_name_initial': 'O',
                                                          'last_name_source': 'full_name_comma_format',
                                                          'licence_digits': '123456789',
                                                          'licence_first_letter': 'O',
                                                          'licence_letter': 'O',
                                                          'licence_number_valid': 'true',
                                                          'validity_years': '5.0',
                                                          'warnings': 'Validity period (5.0 years) '
                                                                      'exceeds typical 4-year '
                                                                      'Newfoundland licence '
                                                                      'term'})},
 'newfoundland_wrong_letter': {'age_validation': ('passed',
                                                  'Age verification passed (29 years old)',
                                                  {'calculated_age': '29', 'minimum_age': '18'}),
                               'data_consistency': ('passed',
                                                    'All date relationships are consistent',
                                                    {}),
                               'document_expiry': ('passed',
                                                   'Document valid for 1095 days',
                                                   {'days_until_expiry': '1095',
                                                    'expiry_date': '2029-01-14'}),
                               'document_format': ('passed',
                                                   'Document number matches 2 known format(s)',
                                                   {'document_number': 'A123456789',
                                                    'matched_patterns': '[{"pattern_name":"US_DRIVERS_LICENSE","description":"US '
                                                                        "Driver's License "
                                                                        '(generic)"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                                        'alphanumeric ID"}]'}),
                               'face_matching': ('skipped',
                                                 'Face matching skipped - no selfie provided',
                                                 {'note': 'Provide selfie image to enable face '
                                                          'matching'}),
                               'newfoundland_drivers_license': ('failed',
                                                                "Newfoundland Driver's Licence "
                                                                'validation failed: Licence first '
                                                                "letter 'A' does not match last "
                                                                "name initial 'O' (from "
                                                                'full_name_comma_format)',
                                                                {'calculated_age': '29',
                                                                 'checks_performed': 'licence_number_format; '
                                                                                     'first_letter_match; '
                                                                                     'minimum_age_newfoundland; '
                                                                                     'expiry_on_birthday; '
                                                                                     'validity_period; '
                                                                                     'expiry_check; '
                                                                                     'issue_date_check',
                                                                 'clean_licence_number': 'A123456789',
                                                                 'days_until_expiry': '1095',
                                                                 'extracted_last_name': "O'BRIEN",
                                                                 'issues': 'Licence first letter '
                                                                           "'A' does not match "
                                                                           "last name initial 'O' "
                                                                           '(from '
                                                                           'full_name_comma_format)',
                                                                 'last_name_initial': 'O',
                                                                 'last_name_source': 'full_name_comma_format',
                                                                 'licence_digits': '123456789',
                                                                 'licence_first_letter': 'A',
                                                                 'licence_letter': 'A',
                                                                 'licence_number_valid': 'true',
                                                                 'warnings': 'Expiry date (01-14) '
                                                                             'is not on birthday '
                                                                             '(01-23). '
                                                                             'Newfoundland DL '
                                                                             'typically expires on '
                                                                             "holder's birthday"})},
 'nova_scotia_valid': {'age_validation': ('passed',
                                          'Age verification passed (29 years old)',
                                          {'calculated_age': '29', 'minimum_age': '18'}),
                       'data_consistency': ('passed', 'All date relationships are consistent', {}),
                       'document_expiry': ('passed',
                                           'Document valid for 1104 days',
                                           {'days_until_expiry': '1104',
                                            'expiry_date': '2029-01-23'}),
                       'document_format': ('passed',
                                           'Document number matches 1 known format(s)',
                                           {'document_number': 'MACDO123456789',
                                            'matched_patterns': '[{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                                'alphanumeric ID"}]'}),
                       'face_matching': ('skipped',
                                         'Face matching skipped - no selfie provided',
                                         {'note': 'Provide selfie image to enable face matching'}),
                       'nova_scotia_drivers_license': ('passed',
                                                       "Nova Scotia Driver's Licence validation "
                                                       'passed',
                                                       {'age_at_issue': '27',
                                                        'calculated_age': '29',
                                                        'checks_performed': 'licence_number_format; '
                                                                            'surname_prefix_check; '
                                                                            'minimum_age_nova_scotia; '
                                                                            'expiry_on_birthday; '
                                                                            'validity_period; '
                                                                            'expiry_check; '
                                                                            'issue_date_check',
                                                        'clean_licence_number': 'MACDO123456789',
                                                        'days_until_expiry': '1104',
                                                        'expected_prefix': 'MACDO',
                                                        'expiry_on_birthday': 'true',
                                                        'extracted_last_name': 'MACDONALD',
                                                        'last_name_source': 'full_name_comma_format',
                                                        'licence_digits': '123456789',
                                                        'licence_number_valid': 'true',
                                                        'licence_prefix': 'MACDO',
                                                        'prefix_matches_surname': 'true',
                                                        'validity_years': '5.0'})},
 'nunavut_valid': {'age_validation': ('passed',
                                      'Age verification passed (29 years old)',
                                      {'calculated_age': '29', 'minimum_age': '18'}),
                   'data_consistency': ('passed', 'All date relationships are consistent', {}),
                   'document_expiry': ('passed',
                                       'Document valid for 1104 days',
                                       {'days_until_expiry': '1104', 'expiry_date': '2029-01-23'}),
                   'document_format': ('passed',
                                       'Document number matches 3 known format(s)',
                                       {'document_number': '123456',
                                        'matched_patterns': '[{"pattern_name":"CA_BC_DL","description":"BC '
                                                            "Driver's "
                                                            'Licence"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                            'numeric '
                                                            'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                            'alphanumeric ID"}]'}),
                   'face_matching': ('skipped',
                                     'Face matching skipped - no selfie provided',
                                     {'note': 'Provide selfie image to enable face matching'}),
                   'nunavut_drivers_license': ('passed',
                                               "Nunavut Driver's Licence validation passed",
                                               {'age_at_issue': '27',
                                                'calculated_age': '29',
                                                'checks_performed': 'licence_number_format; '
                                                                    'minimum_age_nunavut; '
                                                                    'expiry_on_birthday; '
                                                                    'validity_period; '
                                                                    'expiry_check; '
                                                                    'issue_date_check',
                                                'clean_licence_number': '123456',
                                                'days_until_expiry': '1104',
                                                'expiry_on_birthday': 'true',
                                                'extracted_last_name': 'IQALUK',
                                                'last_name_source': 'full_name_comma_format',
                                                'licence_digits': '6',
                                                'licence_number_valid': 'true',
                                                'validity_years': '5.0'})},
 'nwt_valid': {'age_validation': ('passed',
                                  'Age verification passed (29 years old)',
                                  {'calculated_age': '29', 'minimum_age': '18'}),
               'data_consistency': ('passed', 'All date relationships are consistent', {}),
               'document_expiry': ('passed',
                                   'Document valid for 1104 days',
                                   {'days_until_expiry': '1104', 'expiry_date': '2029-01-23'}),
               'document_format': ('passed',
                                   'Document number matches 3 known format(s)',
                                   {'document_number': '123456',
                                    'matched_patterns': '[{"pattern_name":"CA_BC_DL","description":"BC '
                                                        "Driver's "
                                                        'Licence"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                        'numeric '
                                                        'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                        'alphanumeric ID"}]'}),
               'face_matching': ('skipped',
                                 'Face matching skipped - no selfie provided',
                                 {'note': 'Provide selfie image to enable face matching'}),
               'nwt_drivers_license': ('passed',
                                       "NWT Driver's Licence validation passed",
                                       {'age_at_issue': '27',
                                        'calculated_age': '29',
                                        'checks_performed': 'licence_number_format; '
                                                            'minimum_age_nwt; expiry_on_birthday; '
                                                            'validity_period; expiry_check; '
                                                            'issue_date_check',
                                        'clean_licence_number': '123456',
                                        'days_until_expiry': '1104',
                                        'expiry_on_birthday': 'true',
                                        'extracted_last_name': 'TOOTOO',
                                        'last_name_source': 'full_name_comma_format',
                                        'licence_digits': '6',
                                        'licence_number_valid': 'true',
                                        'validity_years': '5.0'})},
 'ontario_underage': {'age_validation': ('warning',
                                         'Person is 13 years old, minimum required is 18',
                                         {'calculated_age': '13',
                                          'date_of_birth': '2012-01-19',
                                          'minimum_age': '18'}),
                      'data_consistency': ('passed', 'All date relationships are consistent', {}),
                      'document_expiry': ('passed',
                                          'Document valid for 1095 days',
                                          {'days_until_expiry': '1095',
                                           'expiry_date': '2029-01-14'}),
                      'document_format': ('warning',
                                          'Document number does not match common formats',
                                          {'document_number': 'S1234-12345-112345',
                                           'note': 'May still be valid - format not in known '
                                                   'patterns'}),
                      'face_matching': ('skipped',
                                        'Face matching skipped - no selfie provided',
                                        {'note': 'Provide selfie image to enable face matching'}),
                      'ontario_drivers_license': ('failed',
                                                  'Ontario DL validation failed: Invalid Ontario '
                                                  'DL format. Expected: A1234-12345-12345, Got: '
                                                  'S1234-12345-112345; Person is 13 years old. '
                                                  'Ontario requires minimum 16 for G1 license; '
                                                  "Last 6 digits of license '112345' do not match "
                                                  "DOB encoding. Expected '120119' (male) or "
                                                  "'125119' (female with month +50)",
                                                  {'calculated_age': '13',
                                                   'checks_performed': 'license_number_format; '
                                                                       'first_letter_match; '
                                                                       'minimum_age_ontario; '
                                                                       'expiry_on_birthday; '
                                                                       'validity_period; '
                                                                       'dob_encoded_in_license; '
                                                                       'verifik_api_validation',
                                                   'document_gender': 'not_provided',
                                                   'expected_dob_female': '125119',
                                                   'expected_dob_male': '120119',
                                                   'extracted_last_name': 'SMITH',
                                                   'first_letter_matches': 'true',
                                                   'issues': 'Invalid Ontario DL format. Expected: '
                                                             'A1234-12345-12345, Got: '
                                                             'S1234-12345-112345; Person is 13 '
                                                             'years old. Ontario requires minimum '
                                                             '16 for G1 license; Last 6 digits of '
                                                             "license '112345' do not match DOB "
                                                             "encoding. Expected '120119' (male) "
                                                             "or '125119' (female with month +50)",
                                                   'last_name_initial': 'S',
                                                   'last_name_source': 'full_name_comma_format',
                                                   'license_first_letter': 'S',
                                                   'license_last_6': '112345',
                                                   'verifik_api_enabled': 'false',
                                                   'verifik_api_skipped_reason': 'local_validation_failed',
                                                   'warnings': 'Expiry date (01-14) is not on '
                                                               'birthday (01-19). Ontario DL '
                                                               "typically expires on holder's "
                                                               'birthday'})},
 'ontario_valid': {'age_validation': ('passed',
                                      'Age verification passed (29 years old)',
                                      {'calculated_age': '29', 'minimum_age': '18'}),
                   'data_consistency': ('passed', 'All date relationships are consistent', {}),
                   'document_expiry': ('passed',
                                       'Document valid for 1104 days',
                                       {'days_until_expiry': '1104', 'expiry_date': '2029-01-23'}),
                   'document_format': ('passed',
                                       'Document number matches 3 known format(s)',
                                       {'document_number': 'S1234-56789-60123',
                                        'matched_patterns': '[{"pattern_name":"CA_ONTARIO_DL","description":"Ontario '
                                                            "Driver's "
                                                            'Licence"},{"pattern_name":"US_DRIVERS_LICENSE","description":"US '
                                                            "Driver's License "
                                                            '(generic)"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                            'alphanumeric ID"}]'}),
                   'face_matching': ('skipped',
                                     'Face matching skipped - no selfie provided',
                                     {'note': 'Provide selfie image to enable face matching'}),
                   'ontario_drivers_license': ('passed',
                                               "Ontario Driver's License validation passed",
                                               {'calculated_age': '29',
                                                'checks_performed': 'license_number_format; '
                                                                    'first_letter_match; '
                                                                    'minimum_age_ontario; '
                                                                    'expiry_on_birthday; '
                                                                    'validity_period; '
                                                                    'dob_encoded_in_license; '
                                                                    'verifik_api_validation',
                                                'detected_encoding': 'male',
                                                'dob_encoded_in_license': 'true',
                                                'document_gender': 'not_provided',
                                                'expected_dob_female': '965123',
                                                'expected_dob_male': '960123',
                                                'expiry_on_birthday': 'true',
                                                'extracted_last_name': 'SMITH',
                                                'first_letter_matches': 'true',
                                                'last_name_initial': 'S',
                                                'last_name_source': 'full_name_comma_format',
                                                'license_first_letter': 'S',
                                                'license_last_6': '960123',
                                                'license_number_valid': 'true',
                                                'validity_years': '5.0',
                                                'verifik_api_enabled': 'false'})},
 'ontario_wrong_letter': {'age_validation': ('passed',
                                             'Age verification passed (29 years old)',
                                             {'calculated_age': '29', 'minimum_age': '18'}),
                          'data_consistency': ('passed',
                                               'All date relationships are consistent',
                                               {}),
                          'document_expiry': ('passed',
                                              'Document valid for 1104 days',
                                              {'days_until_expiry': '1104',
                                               'expiry_date': '2029-01-23'}),
                          'document_format': ('passed',
                                              'Document number matches 3 known format(s)',
                                              {'document_number': 'A1234-12345-12345',
                                               'matched_patterns': '[{"pattern_name":"CA_ONTARIO_DL","description":"Ontario '
                                                                   "Driver's "
                                                                   'Licence"},{"pattern_name":"US_DRIVERS_LICENSE","description":"US '
                                                                   "Driver's License "
                                                                   '(generic)"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                                   'alphanumeric ID"}]'}),
                          'face_matching': ('skipped',
                                            'Face matching skipped - no selfie provided',
                                            {'note': 'Provide selfie image to enable face '
                                                     'matching'}),
                          'ontario_drivers_license': ('failed',
                                                      'Ontario DL validation failed: License first '
                                                      "letter 'A' does not match last name initial "
                                                      "'S' (from full_name_comma_format); Last 6 "
                                                      "digits of license '512345' do not match DOB "
                                                      "encoding. Expected '960123' (male) or "
                                                      "'965123' (female with month +50)",
                                                      {'calculated_age': '29',
                                                       'checks_performed': 'license_number_format; '
                                                                           'first_letter_match; '
                                                                           'minimum_age_ontario; '
                                                                           'expiry_on_birthday; '
                                                                           'validity_period; '
                                                                           'dob_encoded_in_license; '
                                                                           'verifik_api_validation',
                                                       'document_gender': 'not_provided',
                                                       'expected_dob_female': '965123',
                                                       'expected_dob_male': '960123',
                                                       'expiry_on_birthday': 'true',
                                                       'extracted_last_name': 'SMITH',
                                                       'issues': "License first letter 'A' does "
                                                                 "not match last name initial 'S' "
                                                                 '(from full_name_comma_format); '
                                                                 'Last 6 digits of license '
                                                                 "'512345' do not match DOB "
                                                                 "encoding. Expected '960123' "
                                                                 "(male) or '965123' (female with "
                                                                 'month +50)',
                                                       'last_name_initial': 'S',
                                                       'last_name_source': 'full_name_comma_format',
                                                       'license_first_letter': 'A',
                                                       'license_last_6': '512345',
                                                       'license_number_valid': 'true',
                                                       'verifik_api_enabled': 'false',
                                                       'verifik_api_skipped_reason': 'local_validation_failed',
                                                       'warnings': ''})},
 'pei_short_valid': {'age_validation': ('passed',
                                        'Age verification passed (29 years old)',
                                        {'calculated_age': '29', 'minimum_age': '18'}),
                     'data_consistency': ('passed', 'All date relationships are consistent', {}),
                     'document_expiry': ('passed',
                                         'Document valid for 1104 days',
                                         {'days_until_expiry': '1104',
                                          'expiry_date': '2029-01-23'}),
                     'document_format': ('warning',
                                         'Document number does not match common formats',
                                         {'document_number': '123',
                                          'note': 'May still be valid - format not in known '
                                                  'patterns'}),
                     'face_matching': ('skipped',
                                       'Face matching skipped - no selfie provided',
                                       {'note': 'Provide selfie image to enable face matching'}),
                     'pei_drivers_license': ('passed',
                                             "PEI Driver's Licence validation passed",
                                             {'calculated_age': '29',
                                              'checks_performed': 'licence_number_format; '
                                                                  'minimum_age_pei; '
                                                                  'expiry_on_birthday; '
                                                                  'validity_period; expiry_check; '
                                                                  'issue_date_check',
                                              'clean_licence_number': '123',
                                              'days_until_expiry': '1104',
                                              'expiry_on_birthday': 'true',
                                              'extracted_last_name': 'CAMPBELL',
                                              'last_name_source': 'full_name_comma_format',
                                              'licence_digits': '3',
                                              'licence_number_valid': 'true'})},
 'pei_valid': {'age_validation': ('passed',
                                  'Age verification passed (29 years old)',
                                  {'calculated_age': '29', 'minimum_age': '18'}),
               'data_consistency': ('passed', 'All date relationships are consistent', {}),
               'document_expiry': ('passed',
                                   'Document valid for 1104 days',
                                   {'days_until_expiry': '1104', 'expiry_date': '2029-01-23'}),
               'document_format': ('passed',
                                   'Document number matches 3 known format(s)',
                                   {'document_number': '123456',
                                    'matched_patterns': '[{"pattern_name":"CA_BC_DL","description":"BC '
                                                        "Driver's "
                                                        'Licence"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                        'numeric '
                                                        'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                        'alphanumeric ID"}]'}),
               'face_matching': ('skipped',
                                 'Face matching skipped - no selfie provided',
                                 {'note': 'Provide selfie image to enable face matching'}),
               'pei_drivers_license': ('passed',
                                       "PEI Driver's Licence validation passed",
                                       {'age_at_issue': '27',
                                        'calculated_age': '29',
                                        'checks_performed': 'licence_number_format; '
                                                            'minimum_age_pei; expiry_on_birthday; '
                                                            'validity_period; expiry_check; '
                                                            'issue_date_check',
                                        'clean_licence_number': '123456',
                                        'days_until_expiry': '1104',
                                        'expiry_on_birthday': 'true',
                                        'extracted_last_name': 'CAMPBELL',
                                        'last_name_source': 'full_name_comma_format',
                                        'licence_digits': '6',
                                        'licence_number_valid': 'true',
                                        'validity_years': '5.0'})},
 'quebec_valid': {'age_validation': ('passed',
                                     'Age verification passed (29 years old)',
                                     {'calculated_age': '29', 'minimum_age': '18'}),
                  'data_consistency': ('passed', 'All date relationships are consistent', {}),
                  'document_expiry': ('passed',
                                      'Document valid for 1104 days',
                                      {'days_until_expiry': '1104', 'expiry_date': '2029-01-23'}),
                  'document_format': ('passed',
                                      'Document number matches 4 known format(s)',
                                      {'document_number': 'T1234-567890-12',
                                       'matched_patterns': '[{"pattern_name":"CA_QUEBEC_DL","description":"Quebec '
                                                           "Driver's "
                                                           'Licence"},{"pattern_name":"US_DL_FLORIDA","description":"Florida '
                                                           "Driver's "
                                                           'License"},{"pattern_name":"US_DRIVERS_LICENSE","description":"US '
                                                           "Driver's License "
                                                           '(generic)"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                           'alphanumeric ID"}]'}),
                  'face_matching': ('skipped',
                                    'Face matching skipped - no selfie provided',
                                    {'note': 'Provide selfie image to enable face matching'}),
                  'quebec_drivers_license': ('passed',
                                             "Quebec Driver's Licence validation passed",
                                             {'age_at_issue': '27',
                                              'calculated_age': '29',
                                              'checks_performed': 'licence_number_format; '
                                                                  'first_letter_match; '
                                                                  'minimum_age_quebec; '
                                                                  'expiry_on_birthday; '
                                                                  'validity_period; expiry_check; '
                                                                  'issue_date_check',
                                              'clean_licence_number': 'T123456789012',
                                              'days_until_expiry': '1104',
                                              'expiry_on_birthday': 'true',
                                              'extracted_last_name': 'TREMBLAY',
                                              'first_letter_matches': 'true',
                                              'last_name_initial': 'T',
                                              'last_name_source': 'full_name_comma_format',
                                              'licence_first_letter': 'T',
                                              'licence_letter': 'T',
                                              'licence_number_valid': 'true',
                                              'validity_years': '5.0'})},
 'quebec_wrong_letter': {'age_validation': ('passed',
                                            'Age verification passed (29 years old)',
                                            {'calculated_age': '29', 'minimum_age': '18'}),
                         'data_consistency': ('passed',
                                              'All date relationships are consistent',
                                              {}),
                         'document_expiry': ('passed',
                                             'Document valid for 1104 days',
                                             {'days_until_expiry': '1104',
                                              'expiry_date': '2029-01-23'}),
                         'document_format': ('passed',
                                             'Document number matches 4 known format(s)',
                                             {'document_number': 'A1234-567890-12',
                                              'matched_patterns': '[{"pattern_name":"CA_QUEBEC_DL","description":"Quebec '
                                                                  "Driver's "
                                                                  'Licence"},{"pattern_name":"US_DL_FLORIDA","description":"Florida '
                                                                  "Driver's "
                                                                  'License"},{"pattern_name":"US_DRIVERS_LICENSE","description":"US '
                                                                  "Driver's License "
                                                                  '(generic)"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                                  'alphanumeric ID"}]'}),
                         'face_matching': ('skipped',
                                           'Face matching skipped - no selfie provided',
                                           {'note': 'Provide selfie image to enable face '
                                                    'matching'}),
                         'quebec_drivers_license': ('failed',
                                                    "Quebec Driver's Licence validation failed: "
                                                    "Licence first letter 'A' does not match last "
                                                    "name initial 'T' (from "
                                                    'full_name_comma_format)',
                                                    {'calculated_age': '29',
                                                     'checks_performed': 'licence_number_format; '
                                                                         'first_letter_match; '
                                                                         'minimum_age_quebec; '
                                                                         'expiry_on_birthday; '
                                                                         'validity_period; '
                                                                         'expiry_check; '
                                                                         'issue_date_check',
                                                     'clean_licence_number': 'A123456789012',
                                                     'days_until_expiry': '1104',
                                                     'expiry_on_birthday': 'true',
                                                     'extracted_last_name': 'TREMBLAY',
                                                     'issues': "Licence first letter 'A' does not "
                                                               "match last name initial 'T' (from "
                                                               'full_name_comma_format)',
                                                     'last_name_initial': 'T',
                                                     'last_name_source': 'full_name_comma_format',
                                                     'licence_first_letter': 'A',
                                                     'licence_letter': 'A',
                                                     'licence_number_valid': 'true',
                                                     'warnings': ''})},
 'saskatchewan_short': {'age_validation': ('passed',
                                           'Age verification passed (29 years old)',
                                           {'calculated_age': '29', 'minimum_age': '18'}),
                        'data_consistency': ('passed', 'All date relationships are consistent', {}),
                        'document_expiry': ('passed',
                                            'Document valid for 1095 days',
                                            {'days_until_expiry': '1095',
                                             'expiry_date': '2029-01-14'}),
                        'document_format': ('warning',
                                            'Document number does not match common formats',
                                            {'document_number': '12345',
                                             'note': 'May still be valid - format not in known '
                                                     'patterns'}),
                        'face_matching': ('skipped',
                                          'Face matching skipped - no selfie provided',
                                          {'note': 'Provide selfie image to enable face matching'}),
                        'saskatchewan_drivers_license': ('failed',
                                                         "Saskatchewan Driver's Licence validation "
                                                         'failed: Invalid Saskatchewan licence '
                                                         'format. Expected: 8 digits (e.g., '
                                                         '12345678), Got: 12345',
                                                         {'calculated_age': '29',
                                                          'checks_performed': 'licence_number_format; '
                                                                              'minimum_age_saskatchewan; '
                                                                              'expiry_on_birthday; '
                                                                              'validity_period; '
                                                                              'expiry_check; '
                                                                              'issue_date_check',
                                                          'clean_licence_number': '12345',
                                                          'days_until_expiry': '1095',
                                                          'extracted_last_name': 'JOHNSON',
                                                          'issues': 'Invalid Saskatchewan licence '
                                                                    'format. Expected: 8 digits '
                                                                    '(e.g., 12345678), Got: 12345',
                                                          'last_name_source': 'full_name_comma_format',
                                                          'warnings': 'Expiry date (01-14) is not '
                                                                      'on birthday (01-23). '
                                                                      'Saskatchewan DL typically '
                                                                      "expires on holder's "
                                                                      'birthday'})},
 'saskatchewan_valid': {'age_validation': ('passed',
                                           'Age verification passed (29 years old)',
                                           {'calculated_age': '29', 'minimum_age': '18'}),
                        'data_consistency': ('passed', 'All date relationships are consistent', {}),
                        'document_expiry': ('passed',
                                            'Document valid for 1104 days',
                                            {'days_until_expiry': '1104',
                                             'expiry_date': '2029-01-23'}),
                        'document_format': ('passed',
                                            'Document number matches 3 known format(s)',
                                            {'document_number': '12345678',
                                             'matched_patterns': '[{"pattern_name":"US_DL_TEXAS","description":"Texas '
                                                                 "Driver's "
                                                                 'License"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                                 'numeric '
                                                                 'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                                 'alphanumeric ID"}]'}),
                        'face_matching': ('skipped',
                                          'Face matching skipped - no selfie provided',
                                          {'note': 'Provide selfie image to enable face matching'}),
                        'saskatchewan_drivers_license': ('passed',
                                                         "Saskatchewan Driver's Licence validation "
                                                         'passed',
                                                         {'age_at_issue': '27',
                                                          'calculated_age': '29',
                                                          'checks_performed': 'licence_number_format; '
                                                                              'minimum_age_saskatchewan; '
                                                                              'expiry_on_birthday; '
                                                                              'validity_period; '
                                                                              'expiry_check; '
                                                                              'issue_date_check',
                                                          'clean_licence_number': '12345678',
                                                          'days_until_expiry': '1104',
                                                          'expiry_on_birthday': 'true',
                                                          'extracted_last_name': 'JOHNSON',
                                                          'last_name_source': 'full_name_comma_format',
                                                          'licence_digits': '8',
                                                          'licence_number_valid': 'true',
                                                          'validity_years': '5.0'})},
 'yukon_valid': {'age_validation': ('passed',
                                    'Age verification passed (29 years old)',
                                    {'calculated_age': '29', 'minimum_age': '18'}),
                 'data_consistency': ('passed', 'All date relationships are consistent', {}),
                 'document_expiry': ('passed',
                                     'Document valid for 1104 days',
                                     {'days_until_expiry': '1104', 'expiry_date': '2029-01-23'}),
                 'document_format': ('passed',
                                     'Document number matches 3 known format(s)',
                                     {'document_number': '123456',
                                      'matched_patterns': '[{"pattern_name":"CA_BC_DL","description":"BC '
                                                          "Driver's "
                                                          'Licence"},{"pattern_name":"GENERIC_NUMERIC","description":"Generic '
                                                          'numeric '
                                                          'ID"},{"pattern_name":"GENERIC_ALPHANUMERIC","description":"Generic '
                                                          'alphanumeric ID"}]'}),
                 'face_matching': ('skipped',
                                   'Face matching skipped - no selfie provided',
                                   {'note': 'Provide selfie image to enable face matching'}),
                 'yukon_drivers_license': ('passed',
                                           "Yukon Driver's Licence validation passed",
                                           {'age_at_issue': '27',
                                            'calculated_age': '29',
                                            'checks_performed': 'licence_number_format; '
                                                                'minimum_age_yukon; '
                                                                'expiry_on_birthday; '
                                                                'validity_period; expiry_check; '
                                                                'issue_date_check',
                                            'clean_licence_number': '123456',
                                            'days_until_expiry': '1104',
                                            'expiry_on_birthday': 'true',
                                            'extracted_last_name': 'GOLD',
                                            'last_name_source': 'full_name_comma_format',
                                            'licence_digits': '6',
                                            'licence_number_valid': 'true',
                                            'validity_years': '5.0'})}}


@pytest.fixture(scope="module")
def battery_results(spark):
    from webxtract.ops.validators import validation_results_expr, with_parsed_dates

    rows = []
    for name, venum, data, _expect in VALIDATOR_CASES:
        row = {f: data.get(f) for f in FIELD_NAMES}
        row.update(case=name, venum=venum)
        rows.append(row)
    schema = "case string, venum string, " + ", ".join(
        f"{f} string" for f in FIELD_NAMES
    )
    df = with_parsed_dates(spark.createDataFrame(rows, schema=schema))
    res = df.select(
        "case",
        validation_results_expr(F.col("venum"), F.to_date(F.lit(RUN_DATE))).alias("base"),
    ).collect()
    # the battery holds the 5 base validators and the type-specific one
    return {
        r["case"]: {
            b["validator_name"]: (b["status"], b["message"], dict(b["details"]))
            for b in r["base"]
        }
        for r in res
    }


def test_validator_messages_byte_exact(battery_results):
    bad = []
    for case, gold in GOLDENS.items():
        for vn, (gs, gm, gd) in gold.items():
            ms, mm, md = battery_results[case].get(
                vn, ("MISSING", "MISSING", {})
            )
            if (gs, gm, gd) != (ms, mm, md):
                bad.append((case, vn, (gs, gm, gd), (ms, mm, md)))
    assert bad == [], bad
